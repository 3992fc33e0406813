package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{h60, GraftFunctions}
import graft.spark.Adaptive.fanOut

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, both shaped so the corpus side is NEVER shuffled:
  *
  *  - [[bruteForceTopK]]: exact cosine top-k. The query set (small by
  *    contract) is broadcast; the corpus streams through a map-side
  *    broadcast join, and the per-query result is reduced by
  *    [[graft.functions.TopKByScore]] — a bounded-heap aggregate with
  *    partial (map-side) aggregation, so each task emits at most k rows per
  *    query into the shuffle. At 100 TB: one corpus scan, k·tasks shuffle
  *    rows, O(k) memory per group. (A window-function top-k would instead
  *    land the whole corpus' scores for one query on one task.)
  *
  *  - [[ivfTopK]]: IVF (inverted-file) ANN. A deterministic centroid subset
  *    partitions the corpus into cells ("coarse quantizer"); each query
  *    probes only its own cell. Cell assignment is a map-only argmax over a
  *    collected centroid array literal — no cross join, no window, no
  *    shuffle of the corpus; the only shuffle in the whole plan is the
  *    final k-row-per-task top-k aggregation.
  *
  * Floating point is pinned for oracle portability: all arithmetic is done
  * in double with a left-fold accumulation (`aggregate`), matching the
  * DuckDB oracle's `list_sum(list_transform(...))`, and similarities are
  * rounded to 6dp before ranking so both engines rank identical values.
  * Zero-norm embeddings get similarity 0.0 (never NaN).
  */
object Similarity {

  /** Sequential-fold dot product of two double arrays — native expression
    * (see [[graft.functions.DotProduct]]), same left-fold value as
    * `aggregate(zip_with(a, b, _*_), 0d, _+_)` at a fraction of the
    * per-row cost.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.DotProduct(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** Cast float embedding to double once, so all downstream arithmetic is
    * double-precision in every engine.
    */
  def asDouble(emb: Column): Column = transform(emb, x => x.cast("double"))

  /** Cosine similarity from precomputed norms; 0.0 when either norm is 0
    * (a NaN would otherwise rank above every real similarity).
    */
  def cosineFromNorms(dotAB: Column, normA: Column, normB: Column): Column =
    when(normA * normB > 0, dotAB / (normA * normB)).otherwise(lit(0.0d))

  def cosine(a: Column, b: Column): Column =
    cosineFromNorms(dot(a, b), sqrt(dot(a, a)), sqrt(dot(b, b)))

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param corpus  (id, embedding float array) — the big side, map-only
    * @param queries (id, embedding float array) — the small side, broadcast
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     embCol: String = "embedding"): DataFrame =
    bruteForceFromC(
      fanOut(corpus.select(col(idCol).cast("long").as("nbr_id"),
          asDouble(col(embCol)).as("c_emb")))
        .withColumn("c_nrm", sqrt(dot(col("c_emb"), col("c_emb")))),
      queries, k, idCol, embCol)

  /** [[bruteForceTopK]] from a pre-projected `(nbr_id, c_emb, c_nrm)`
    * corpus frame — lets recall probes share one corpus projection
    * across their exact and approximate legs.
    */
  private def bruteForceFromC(c: DataFrame, queries: DataFrame, k: Int,
                              idCol: String, embCol: String): DataFrame = {
    val q = queries.select(col(idCol).cast("long").as("query_id"),
        asDouble(col(embCol)).as("q_emb"))
      .withColumn("q_nrm", sqrt(dot(col("q_emb"), col("q_emb"))))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        round(cosineFromNorms(dot(col("q_emb"), col("c_emb")),
          col("q_nrm"), col("c_nrm")), 6).as("cos_sim"))
    topPerKey(scored, k)
  }

  /** IVF ANN: centroids are the `numCentroids` corpus rows ranking first by
    * a deterministic hash of their id (engine-agnostic "training" — a
    * hash-uniform K-row sample). Every vector is assigned to its nearest
    * centroid (its *cell*); a query is answered from its own cell only —
    * approximate by construction.
    *
    * The centroid count is a FIXED K, independent of corpus size: the
    * driver-side centroid table and the per-row argmax both stay O(K) at
    * any scale (a stride-based policy would grow them O(corpus)).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              numCentroids: Int,
              idCol: String = "vec_id",
              embCol: String = "embedding"): DataFrame = {
    val c = fanOut(corpus.select(col(idCol).cast("long").as("nbr_id"),
      asDouble(col(embCol)).as("c_emb")))
    val cells = assignCells(c, "nbr_id", "c_emb", numCentroids)
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      asDouble(col(embCol)).as("q_emb"))
    val qCells = assignCells(q, "query_id", "q_emb", numCentroids,
      corpusForCentroids = Some(c))
    val scored = cells.join(broadcast(qCells), Seq("cell"))
      .where(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        round(cosineFromNorms(dot(col("q_emb"), col("c_emb")),
          col("q_nrm"), col("c_nrm")), 6).as("cos_sim"))
    topPerKey(scored, k)
  }

  /** [[ivfTopK]] against an EXPLICIT (artifact-loaded — see
    * [[ModelStore.centroidArrays]]) coarse-quantizer table: the
    * train-the-quantizer/ship-it/search-with-it IVF flow — corpus and
    * queries both assign map-only against the SHIPPED k-means centroids
    * (no sampling scan, no training); everything after assignment is
    * [[ivfTopK]]'s shape (corpus never shuffled, query cells broadcast,
    * bounded-heap per-query top-k).
    */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, k: Int,
                  ids: Array[Long], embs: Array[Array[Double]],
                  idCol: String = "vec_id",
                  embCol: String = "embedding"): DataFrame = {
    val c = fanOut(corpus.select(col(idCol).cast("long").as("nbr_id"),
      asDouble(col(embCol)).as("c_emb")))
    val cells = assignToCentroids(c, "nbr_id", "c_emb", ids, embs)
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      asDouble(col(embCol)).as("q_emb"))
    val qCells = assignToCentroids(q, "query_id", "q_emb", ids, embs)
    val scored = cells.join(broadcast(qCells), Seq("cell"))
      .where(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        round(cosineFromNorms(dot(col("q_emb"), col("c_emb")),
          col("q_nrm"), col("c_nrm")), 6).as("cos_sim"))
    topPerKey(scored, k)
  }

  /** Multi-probe IVF: each query probes its `nprobe` NEAREST cells, not
    * just the top one — the standard IVF recall knob (a true neighbor
    * just across a cell boundary is invisible at nprobe=1; probing the
    * runner-up cells recovers most of them for nprobe× the probe cost).
    * `nprobe = 1` reproduces [[ivfTopK]] exactly.
    *
    * Scale shape is unchanged from [[ivfTopK]]: the corpus is assigned
    * map-only and never shuffled; the (queries × nprobe) probe table is
    * broadcast; per-query top-k via the bounded-heap aggregate. The
    * query-to-cells ranking runs on a (queries × K) broadcast cross of
    * the SAME hash-rank centroid table — bounded by contract (small
    * query set, fixed K), and each corpus vector lives in exactly one
    * cell so multi-probe never produces duplicate candidates.
    */
  def ivfTopKProbe(corpus: DataFrame, queries: DataFrame, k: Int,
                   numCentroids: Int, nprobe: Int,
                   idCol: String = "vec_id",
                   embCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).cast("long").as("nbr_id"),
      asDouble(col(embCol)).as("c_emb"))
    val (ids, embs) = sampleCentroids(c, numCentroids)
    probeTopK(corpus, queries, k, ids, embs, nprobe, idCol, embCol)
  }

  /** Multi-probe IVF with the SHIPPED (artifact-loaded) quantizer — the
    * recall knob [[ivfTopKProbe]] has, on the [[ivfTopKWith]] deploy
    * flow: without it a deployed index cannot trade probe cost for
    * recall. `nprobe = 1` reproduces [[ivfTopKWith]] exactly (same
    * pinned cell-ranking kernel). Scale shape unchanged: corpus assigned
    * map-only against O(K·dim) literals and never shuffled; the
    * (queries × nprobe) probe table broadcast; bounded-heap top-k.
    */
  def ivfTopKProbeWith(corpus: DataFrame, queries: DataFrame, k: Int,
                       ids: Array[Long], embs: Array[Array[Double]],
                       nprobe: Int,
                       idCol: String = "vec_id",
                       embCol: String = "embedding"): DataFrame =
    probeTopK(corpus, queries, k, ids, embs, nprobe, idCol, embCol)

  /** Shared multi-probe kernel: assign the corpus to the given centroid
    * table map-only, rank every query's `nprobe` nearest cells over the
    * broadcast (queries × K) cross, probe them. Each corpus vector lives
    * in exactly one cell, so multi-probe never yields duplicate
    * candidates.
    */
  private def probeTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                        ids: Array[Long], embs: Array[Array[Double]],
                        nprobe: Int, idCol: String,
                        embCol: String): DataFrame = {
    require(nprobe >= 1, "nprobe must be at least 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = fanOut(corpus.select(col(idCol).cast("long").as("nbr_id"),
      asDouble(col(embCol)).as("c_emb")))
    val cells = assignToCentroids(c, "nbr_id", "c_emb", ids, embs)
    val centDf = ids.zip(embs).toSeq.map { case (i, e) => (i, e.toSeq) }
      .toDF("cell", "ce")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
        asDouble(col(embCol)).as("q_emb"))
      .withColumn("q_nrm", sqrt(dot(col("q_emb"), col("q_emb"))))
    // (queries × K) cell ranking — 6dp cosine, ties to the smaller cell
    // id, zero norms → 0.0: the same pinned kernel as the native argmax,
    // so nprobe=1 picks the identical cell.
    val qCells = q.crossJoin(broadcast(centDf))
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cell"),
        round(cosine(col("q_emb"), col("ce")), 6).as("c_cos"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("c_cos").desc, col("cell").asc)))
      .where(col("rn") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cell"))
    val scored = cells.join(broadcast(qCells), Seq("cell"))
      .where(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        round(cosineFromNorms(dot(col("q_emb"), col("c_emb")),
          col("q_nrm"), col("c_nrm")), 6).as("cos_sim"))
    topPerKey(scored, k)
  }

  /** Recall\@k of the IVF index at nprobe = 1 AND at `nprobe`, against the
    * exact brute-force neighbors, per query — the calibration table that
    * prices the recall knob before an index is deployed ("how much recall
    * does the second probe buy"). All three retrieval legs are the
    * already-bounded top-k frames, so the comparison costs O(queries·k)
    * at any corpus scale.
    */
  def annRecallProbe(corpus: DataFrame, queries: DataFrame, k: Int,
                     numCentroids: Int, nprobe: Int): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, k)
      .select(col("query_id"), col("nbr_id"))
    val p1 = ivfTopK(corpus, queries, k, numCentroids)
      .select(col("query_id").as("q1"), col("nbr_id").as("n1"))
    val pn = ivfTopKProbe(corpus, queries, k, numCentroids, nprobe)
      .select(col("query_id").as("qn"), col("nbr_id").as("nn"))
    exact
      .join(p1, col("query_id") === col("q1") && col("nbr_id") === col("n1"),
        "left")
      .join(pn, col("query_id") === col("qn") && col("nbr_id") === col("nn"),
        "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        count(col("n1")).as("hit_p1"),
        count(col("nn")).as(s"hit_p$nprobe"),
        round(count(col("n1")).cast("double") / count(lit(1)), 4)
          .as("recall_p1"),
        round(count(col("nn")).cast("double") / count(lit(1)), 4)
          .as(s"recall_p$nprobe"))
  }

  /** [[annRecallProbe]] for the SHIPPED quantizer: recall\@k of
    * [[ivfTopKWith]] (nprobe = 1) and [[ivfTopKProbeWith]] (at `nprobe`)
    * against exact brute force — the calibration row a deployed index's
    * recall knob is priced with, run against the artifact the index
    * actually serves (the sampled-quantizer [[annRecallProbe]] prices a
    * quantizer nothing deploys). Same bounded shape: all three legs are
    * top-k frames, comparison costs O(queries·k) at any corpus scale.
    */
  def annRecallTrained(corpus: DataFrame, queries: DataFrame, k: Int,
                       ids: Array[Long], embs: Array[Array[Double]],
                       nprobe: Int): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, k)
      .select(col("query_id"), col("nbr_id"))
    val p1 = ivfTopKWith(corpus, queries, k, ids, embs)
      .select(col("query_id").as("q1"), col("nbr_id").as("n1"))
    val pn = ivfTopKProbeWith(corpus, queries, k, ids, embs, nprobe)
      .select(col("query_id").as("qn"), col("nbr_id").as("nn"))
    exact
      .join(p1, col("query_id") === col("q1") && col("nbr_id") === col("n1"),
        "left")
      .join(pn, col("query_id") === col("qn") && col("nbr_id") === col("nn"),
        "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        count(col("n1")).as("hit_p1"),
        count(col("nn")).as(s"hit_p$nprobe"),
        round(count(col("n1")).cast("double") / count(lit(1)), 4)
          .as("recall_p1"),
        round(count(col("nn")).cast("double") / count(lit(1)), 4)
          .as(s"recall_p$nprobe"))
  }

  /** One distributed Lloyd (k-means) iteration over the embedding corpus:
    * assign every vector to its nearest current centroid (the same map-only
    * native argmax [[ivfTopK]] uses — no join, no shuffle of the corpus),
    * then recompute each cell's mean, one output row per (cell, dimension).
    *
    * The centroid-update aggregate is the scale shape that matters: the
    * corpus explodes into (cell, dim, component) and collapses through ONE
    * hash-aggregate with map-side combine — shuffle volume is
    * O(cells × dims × tasks), independent of corpus size. Component sums
    * run in DECIMAL so accumulation order cannot perturb the mean (double
    * summation is order-sensitive; decimal is exact), with a single
    * double division at the end — bit-identical in any engine, which is
    * how the oracle replays the iteration.
    */
  def kmeansStep(corpus: DataFrame, numCentroids: Int,
                 idCol: String = "vec_id",
                 embCol: String = "embedding"): DataFrame = {
    val c = fanOut(corpus.select(col(idCol).cast("long").as("id"),
      asDouble(col(embCol)).as("e")))
    val assigned = assignCells(c, "id", "e", numCentroids)
    assigned.select(col("cell"), posexplode(col("e")))
      .select(col("cell"), (col("pos") + 1).cast("long").as("dim"),
        col("col").as("v"))
      .groupBy(col("cell"), col("dim"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("v").cast(org.apache.spark.sql.types.DecimalType(28, 12))).as("s"))
      .select(col("cell"), col("dim"), col("n_members"),
        round(col("s").cast("double") / col("n_members"), 6).as("mean_val"))
  }

  /** Full Lloyd training loop: [[kmeansStep]]'s assign→mean round iterated
    * `maxIters` times (or until the centroids reach a fixed point). Output
    * is the final round's centroid table, `(cell, dim, n_members,
    * mean_val)` — one row per non-empty cell × dimension, exactly
    * [[kmeansStep]]'s schema, so `maxIters = 1` reproduces it bit-for-bit.
    *
    * Scale shape of the LOOP:
    *  - per-round distributed work is ONE corpus scan — the map-only
    *    native argmax assignment (no join, no corpus shuffle) feeding the
    *    map-side-combined (cell, dim) hash-aggregate whose shuffle volume
    *    is O(cells × dims × tasks), corpus-size-independent;
    *  - ALL loop state lives driver-side and is provably O(K × dim): the
    *    round's means collect as ≤ K·dim rows and are re-embedded as
    *    literals in the next round's argmax. Nothing is cached or
    *    checkpointed, so there is no storage to leak across rounds and
    *    no lineage to cut — each round's plan is corpus-scan-deep by
    *    construction (contrast [[graft.ops.Graph.pagerankLoop]], whose
    *    O(|nodes|) state must live distributed);
    *  - convergence is detected driver-side at O(K·dim) cost: when the
    *    6dp-quantized means are component-wise identical to the round's
    *    input centroids, the next assignment — a deterministic function
    *    of the centroids — would repeat, so the assignment-change count
    *    is provably zero without ever joining consecutive assignments.
    *
    * Empty cells keep their previous centroid (id and vector), the
    * standard Lloyd convention, mirrored by the oracle's carry-forward.
    * Means are exact decimal sums with one final 6dp-rounded division, so
    * every round — hence the loop — is bit-replayable by an unrolled SQL
    * CTE chain.
    */
  def kmeansTrain(corpus: DataFrame, numCentroids: Int, maxIters: Int,
                  idCol: String = "vec_id",
                  embCol: String = "embedding"): DataFrame =
    kmeansTrainLoop(corpus, numCentroids, maxIters, idCol, embCol)._1

  /** [[kmeansTrain]] plus the number of rounds actually run — the
    * test/inspection surface. */
  def kmeansTrainLoop(corpus: DataFrame, numCentroids: Int, maxIters: Int,
                      idCol: String = "vec_id", embCol: String = "embedding")
      : (DataFrame, Int) = {
    require(maxIters >= 1, "k-means needs at least one round")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = fanOut(corpus.select(col(idCol).cast("long").as("id"),
      asDouble(col(embCol)).as("e")))
    // Round-0 centroids: the identical deterministic hash-rank K-row
    // sample assignCells draws (TakeOrderedAndProject — bounded heap,
    // O(K) driver rows at any corpus size).
    val centRows = c
      .orderBy(h60(concat(lit("cent:"), col("id").cast("string"))).asc,
        col("id").asc)
      .limit(numCentroids).collect()
    require(centRows.nonEmpty, "no centroids: empty corpus")
    val ids = centRows.map(_.getLong(0))
    var embs = centRows.map(_.getSeq[Double](1).toArray)
    var lastMeans = Array.empty[org.apache.spark.sql.Row]
    var rounds = 0
    var done = false
    while (rounds < maxIters && !done) {
      val means = assignToCentroids(c, "id", "e", ids, embs)
        .select(col("cell"), posexplode(col("e")))
        .select(col("cell"), (col("pos") + 1).cast("long").as("dim"),
          col("col").as("v"))
        .groupBy(col("cell"), col("dim"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("v").cast(org.apache.spark.sql.types.DecimalType(28, 12))).as("s"))
        .select(col("cell"), col("dim"), col("n_members"),
          round(col("s").cast("double") / col("n_members"), 6).as("mean_val"))
        .collect() // ≤ K·dim rows — bounded driver state by construction
      lastMeans = means
      val byCell = means.groupBy(_.getLong(0)).map { case (cell, rs) =>
        cell -> rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      }
      val nextEmbs = ids.zip(embs).map { case (id, prev) =>
        byCell.getOrElse(id, prev)
      }
      rounds += 1
      done = ids.indices.forall(i =>
        java.util.Arrays.equals(nextEmbs(i), embs(i)))
      embs = nextEmbs
    }
    // The final frame is rebuilt from the already-collected means — no
    // recompute on action, and only O(K·dim) rows ever materialize.
    val out = lastMeans.toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toDF("cell", "dim", "n_members", "mean_val")
    (out, rounds)
  }

  /** Product-quantization encode: split the embedding into `subs` equal
    * sub-vectors and replace each with the index of its nearest codebook
    * entry (squared L2, ties to the smaller index) — `subs` small codes
    * instead of the full vector, the compression step that lets an ANN
    * index hold 100 TB of embeddings in RAM (64 floats → 8 codes here).
    *
    * The codebook is the same bounded hash-ranked row sample the IVF
    * coarse quantizer uses (deterministic, O(k) driver state, replayable
    * by the SQL oracle). Encoding is a PURE map-only projection: every
    * distance is an explicit left-associated sum of `subDim` squared
    * differences against literal codebook components — no join, no
    * shuffle, no higher-order functions — and the argmin is `array_min`
    * over (distance, index) structs, so identical arithmetic in any
    * engine picks identical codes.
    */
  def pqEncode(corpus: DataFrame, subs: Int, k: Int,
               idCol: String = "vec_id",
               embCol: String = "embedding"): DataFrame = {
    val (_, cents) = pqPrep(corpus, subs, k, idCol, embCol)
    pqEncodeWith(corpus, subs, cents, idCol, embCol)
  }

  /** PQ asymmetric-distance (ADC) top-k: the full product-quantization
    * search path. The corpus is encoded to `subs` codes (native
    * [[graft.functions.PqCodes]], map-only); each query's `subs × k`
    * distance TABLE against the codebook is computed ON the query frame —
    * per-(query, codebook-entry) distance rows against the k-row codebook
    * frame (bounded driver state, broadcast), assembled per query by one
    * tiny entry-ordered aggregate — so the plan is constant-size AND
    * small-expression no matter how many queries arrive (the former
    * design inlined one table per query as literals — fine for a
    * handful, a plan explosion at 10⁵; inlining the k×subs codebook
    * chains as one projection is no better: ~10⁴ expression nodes cost
    * seconds of analysis + codegen every run). The table frame —
    * `subs × k` doubles per query, smaller than the raw query vectors —
    * broadcast-joins the code scan; a corpus vector's approximate
    * distance is then `subs` array lookups summed — no embedding is ever
    * re-read, which is the point: at 100 TB the scan touches 8-byte
    * codes, not 256-byte vectors. Per-query top-k via the bounded-heap
    * `topk_by_score` aggregate (score = −distance), k rows per task into
    * the shuffle. For query sets too large to broadcast, pre-bucket both
    * sides with the IVF coarse quantizer and shuffle-join on the cell —
    * this operator is the per-cell kernel either way.
    *
    * ADC sums are left-associated (both the per-entry squared-difference
    * chains and the `subs` lookups) and rounded to 6dp before ranking so
    * the SQL oracle ranks identical values.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, topK: Int,
             subs: Int, k: Int,
             idCol: String = "vec_id",
             embCol: String = "embedding"): DataFrame = {
    val (_, cents) = pqPrep(corpus, subs, k, idCol, embCol)
    pqTopKWith(corpus, queries, topK, subs, cents, idCol, embCol)
  }

  /** [[pqTopK]] against an EXPLICIT (artifact-loaded) codebook — no
    * sampling scan; the ADC search shape is unchanged.
    */
  def pqTopKWith(corpus: DataFrame, queries: DataFrame, topK: Int,
                 subs: Int, cents: Array[Array[Double]],
                 idCol: String = "vec_id",
                 embCol: String = "embedding"): DataFrame =
    pqTopKFromEmb(
      fanOut(corpus.select(col(idCol).cast("long").as(idCol),
        asDouble(col(embCol)).as("e"))),
      queries, topK, subs, cents, idCol, embCol)

  /** [[pqTopKWith]] from a pre-projected `(idCol, e)` corpus frame —
    * lets [[annRecallIvfPq]] reuse the one materialized corpus
    * projection its probe legs already carry instead of re-scanning and
    * re-encoding per leg.
    */
  private def pqTopKFromEmb(c: DataFrame, queries: DataFrame, topK: Int,
                            subs: Int, cents: Array[Array[Double]],
                            idCol: String, embCol: String): DataFrame = {
    require(cents.head.length % subs == 0,
      s"dim ${cents.head.length} not divisible into $subs sub-vectors")
    val subDim = cents.head.length / subs
    val codes = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.PqCodes(
        org.apache.spark.sql.GraftColumnBridge.expression(col("e")),
        cents, subs))
    // Per-(query, codebook-entry) distance rows against the k-row codebook
    // FRAME (not k×subs inlined literal chains — a single giant projection
    // costs seconds of analysis + codegen per run), then one tiny
    // aggregate assembles each query's lookup table ordered by entry id.
    // dtj[j+1][s+1] = ||q_sub(s) − cent_j_sub(s)||².
    val spark = c.sparkSession
    import spark.implicits._
    val cbook = broadcast(
      cents.zipWithIndex.map { case (ce, j) => (j, ce.toSeq) }
        .toSeq.toDF("j", "ce"))
    val entryDists = array((0 until subs).map { s =>
      (0 until subDim).map { i =>
        val p = s * subDim + i
        val diff = element_at(col("qe"), p + 1) - element_at(col("ce"), p + 1)
        diff * diff
      }.reduceLeft(_ + _)
    }: _*)
    val qdt = queries
      .select(col(idCol).cast("long").as("query_id"),
        asDouble(col(embCol)).as("qe"))
      .crossJoin(cbook)
      .select(col("query_id"), col("j"), entryDists.as("ds"))
      .groupBy(col("query_id"))
      .agg(transform(array_sort(collect_list(struct(col("j"), col("ds")))),
        x => x.getField("ds")).as("dtj"))
    val adc = (0 until subs).map { s =>
      element_at(
        element_at(col("dtj"),
          (element_at(col("codes"), s + 1) + 1).cast("int")),
        s + 1)
    }.reduceLeft(_ + _)
    val scored = c.withColumn("codes", codes)
      .select(col(idCol).as("nbr_id"), col("codes"))
      .join(broadcast(qdt), col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"), round(adc, 6).as("adc"))
    GraftFunctions.register(scored.sparkSession)
    scored.groupBy(col("query_id"))
      .agg(expr(s"topk_by_score(-adc, nbr_id, $topK)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.nbr_id").as("nbr_id"), (-col("col.cos_sim")).as("adc"))
  }

  /** IVF-PQ: the coarse quantizer ROUTES, the product quantizer SCORES —
    * the composed index shape trillion-vector deployments actually run
    * (FAISS `IndexIVFPQ`): both quantizers are SHIPPED artifacts
    * (k-means centroids for the cells, the PQ codebook for the codes),
    * the corpus is assigned AND encoded in one map-only projection
    * (O(K·dim) + O(k·dim) literals — never joined, never shuffled, and
    * the search reads 8-byte codes, not 256-byte vectors), each query
    * probes its `nprobe` nearest cells, and within the probed cells the
    * asymmetric distance is `subs` lookups into the query's broadcast
    * distance table. Cost per query ≈ (corpus/K)·nprobe code reads —
    * the two knobs (cells, nprobe) price recall against bytes touched.
    *
    * Determinism as [[pqTopKWith]]: left-associated ADC sums, 6-dp
    * rounds before ranking, ties to the smaller neighbor id; cell
    * ranking is the same pinned 6-dp cosine / smaller-cell-id kernel
    * the native argmax uses, so nprobe=1 probes the argmax cell.
    * Output: `(query_id, rank, nbr_id, adc)`.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, topK: Int,
                coarseIds: Array[Long], coarseEmbs: Array[Array[Double]],
                subs: Int, cents: Array[Array[Double]], nprobe: Int,
                idCol: String = "vec_id",
                embCol: String = "embedding"): DataFrame =
    ivfPqTopKFromAssigned(
      ivfAssigned(corpus, coarseIds, coarseEmbs, idCol, embCol),
      queries, topK, coarseIds, coarseEmbs, subs, cents, nprobe, idCol,
      embCol)

  /** The shared corpus-side frame of the IVF-PQ family: `(nbr_id, e,
    * cell, c_nrm)` — the vector, its coarse cell (native argmax) and its
    * norm, fanned to cluster width. Computed ONCE and (in the recall
    * probes) materialized once, then every leg derives its codes from it
    * map-side instead of re-scanning and re-assigning the corpus.
    */
  private def ivfAssigned(corpus: DataFrame, coarseIds: Array[Long],
                          coarseEmbs: Array[Array[Double]],
                          idCol: String, embCol: String): DataFrame =
    assignToCentroids(
      fanOut(corpus.select(col(idCol).cast("long").as("nbr_id"),
        asDouble(col(embCol)).as("e"))),
      "nbr_id", "e", coarseIds, coarseEmbs)

  /** [[ivfPqTopK]] from a pre-assigned corpus frame (see
    * [[ivfAssigned]]); the raw-vector PQ codes are derived map-side.
    */
  private def ivfPqTopKFromAssigned(assigned: DataFrame, queries: DataFrame,
                                    topK: Int, coarseIds: Array[Long],
                                    coarseEmbs: Array[Array[Double]],
                                    subs: Int, cents: Array[Array[Double]],
                                    nprobe: Int, idCol: String,
                                    embCol: String): DataFrame = {
    require(nprobe >= 1, "nprobe must be at least 1")
    require(cents.head.length % subs == 0,
      s"dim ${cents.head.length} not divisible into $subs sub-vectors")
    val spark = assigned.sparkSession
    import spark.implicits._
    val subDim = cents.head.length / subs
    // ONE map-only projection: coarse cell (native argmax over the
    // shipped centroids) + PQ codes (native encoder over the shipped
    // codebook) — the whole indexing pass at any corpus size.
    val codes = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.PqCodes(
        org.apache.spark.sql.GraftColumnBridge.expression(col("e")),
        cents, subs))
    val coded = assigned
      .select(col("nbr_id"), col("cell"), codes.as("codes"))
    // Query side: nprobe nearest cells (bounded (queries × K) cross)...
    val centDf = coarseIds.zip(coarseEmbs).toSeq
      .map { case (i, e) => (i, e.toSeq) }.toDF("cell", "ce")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      asDouble(col(embCol)).as("qe"))
    val qCells = q.crossJoin(broadcast(centDf))
      .select(col("query_id"), col("cell"),
        round(cosine(col("qe"), col("ce")), 6).as("c_cos"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("c_cos").desc, col("cell").asc)))
      .where(col("rn") <= nprobe)
      .select(col("query_id"), col("cell"))
    // ...plus the per-query ADC distance table (the pqTopKWith kernel).
    val cbook = broadcast(
      cents.zipWithIndex.map { case (ce, j) => (j, ce.toSeq) }
        .toSeq.toDF("j", "ce"))
    val entryDists = array((0 until subs).map { s =>
      (0 until subDim).map { i =>
        val p = s * subDim + i
        val diff = element_at(col("qe"), p + 1) - element_at(col("ce"), p + 1)
        diff * diff
      }.reduceLeft(_ + _)
    }: _*)
    val qdt = q.crossJoin(cbook)
      .select(col("query_id"), col("j"), entryDists.as("ds"))
      .groupBy(col("query_id"))
      .agg(transform(array_sort(collect_list(struct(col("j"), col("ds")))),
        x => x.getField("ds")).as("dtj"))
    val qSide = qCells.join(qdt, "query_id")
      .select(col("query_id"), col("cell"), col("dtj"))
    val adc = (0 until subs).map { s =>
      element_at(
        element_at(col("dtj"),
          (element_at(col("codes"), s + 1) + 1).cast("int")),
        s + 1)
    }.reduceLeft(_ + _)
    val scored = coded.join(broadcast(qSide), Seq("cell"))
      .where(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"), round(adc, 6).as("adc"))
    GraftFunctions.register(spark)
    scored.groupBy(col("query_id"))
      .agg(expr(s"topk_by_score(-adc, nbr_id, $topK)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.nbr_id").as("nbr_id"), (-col("col.cos_sim")).as("adc"))
  }

  /** The composed index's ROUTING loss priced: recall\@k of
    * [[ivfPqTopK]] at nprobe=1 and at `nprobe` against the UNROUTED
    * full-ADC ranking ([[pqTopKWith]] over the same shipped codebook) —
    * quantization is held fixed on both sides, so the gap is exactly
    * what cell routing loses and the second probe buys back (the
    * `ann_recall_trained` analog one level up the index stack; recall
    * against exact cosine would conflate quantization loss with routing
    * loss and price neither). All three legs are bounded top-k frames:
    * O(queries·k) comparison cost at any corpus scale.
    */
  def annRecallIvfPq(corpus: DataFrame, queries: DataFrame, k: Int,
                     ids: Array[Long], embs: Array[Array[Double]],
                     subs: Int, cents: Array[Array[Double]],
                     nprobe: Int): DataFrame = {
    // ONE corpus pass for all three legs: the assigned frame (vector +
    // cell + norm) is materialized once and each leg derives its codes /
    // scores from it map-side — this probe used to scan, fan out and
    // PQ-encode the corpus once PER LEG (3×). Same checkpoint discipline
    // as minhashPairs' signature frame; at cluster scale you'd persist
    // the assigned frame to a table for the same reason.
    val assigned = ivfAssigned(corpus, ids, embs, "vec_id", "embedding")
      .localCheckpoint()
    val truth = pqTopKFromEmb(
        assigned.select(col("nbr_id").as("vec_id"), col("e")),
        queries, k, subs, cents, "vec_id", "embedding")
      .select(col("query_id"), col("nbr_id"))
    val p1 = ivfPqTopKFromAssigned(assigned, queries, k, ids, embs, subs,
        cents, 1, "vec_id", "embedding")
      .select(col("query_id").as("q1"), col("nbr_id").as("n1"))
    val pn = ivfPqTopKFromAssigned(assigned, queries, k, ids, embs, subs,
        cents, nprobe, "vec_id", "embedding")
      .select(col("query_id").as("qn"), col("nbr_id").as("nn"))
    truth
      .join(p1, col("query_id") === col("q1") && col("nbr_id") === col("n1"),
        "left")
      .join(pn, col("query_id") === col("qn") && col("nbr_id") === col("nn"),
        "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        count(col("n1")).as("hit_p1"),
        count(col("nn")).as(s"hit_p$nprobe"),
        round(count(col("n1")).cast("double") / count(lit(1)), 4)
          .as("recall_p1"),
        round(count(col("nn")).cast("double") / count(lit(1)), 4)
          .as(s"recall_p$nprobe"))
  }

  /** The coarse centroid table as a literal MAP column (`cell → mean
    * vector`) — the per-row lookup residual encoding needs. O(K·dim)
    * literals, same scale contract as the argmax's embedded table.
    */
  private def centroidMapLit(ids: Array[Long],
                             embs: Array[Array[Double]]): Column =
    map_from_arrays(
      array(ids.map(lit(_)): _*),
      array(embs.map(e => array(e.map(lit(_)): _*)): _*))

  /** RESIDUAL PQ codebook: the same deterministic hash-ranked k-row
    * sample as [[pqCodebook]], but each entry is the sample vector MINUS
    * its nearest coarse centroid (`x − centroid(cell(x))`) — FAISS
    * `IndexIVFPQ`'s actual training target. Residuals concentrate near
    * the origin (the coarse quantizer has already explained the
    * between-cell variance), so the same code bytes spend themselves on
    * the WITHIN-cell detail that ranks neighbors inside a probed cell —
    * the recall gain at identical bytes that `ann_recall_ivfpq_res`
    * prices. Assignment runs through the same native argmax kernel the
    * corpus uses (6-dp cosine, ties to the smaller cell id), so sample
    * and corpus residuals are computed against identical cells.
    */
  def pqResCodebook(corpus: DataFrame, k: Int, coarseIds: Array[Long],
                    coarseEmbs: Array[Array[Double]],
                    idCol: String = "vec_id",
                    embCol: String = "embedding"): Array[Array[Double]] = {
    val sample = corpus
      .select(col(idCol).cast("long").as("vec_id"),
        asDouble(col(embCol)).as("e"))
      .orderBy(h60(concat(lit("cent:"), col("vec_id").cast("string"))).asc,
        col("vec_id").asc)
      .limit(k)
    val rows = assignToCentroids(sample, "vec_id", "e", coarseIds, coarseEmbs)
      .withColumn("r", zip_with(col("e"),
        element_at(centroidMapLit(coarseIds, coarseEmbs), col("cell")),
        (x, y) => x - y))
      // re-pin the hash-rank order so code index j is stable
      .orderBy(h60(concat(lit("cent:"), col("vec_id").cast("string"))).asc,
        col("vec_id").asc)
      .select(col("r")).collect()
    require(rows.nonEmpty, "no codebook rows: empty corpus")
    rows.map(_.getSeq[Double](0).toArray)
  }

  /** [[ivfPqTopK]] with RESIDUAL encoding — the true FAISS `IndexIVFPQ`:
    * the corpus is assigned to its coarse cell AND encoded as
    * `PQ(x − centroid(cell))` in one map-only projection (the centroid
    * subtraction is an O(K·dim) literal map lookup, still no join, no
    * shuffle); each query probes its `nprobe` nearest cells; the ADC
    * distance table is now PER (query, probed cell) — the query residual
    * `q − centroid(cell)` differs per probed cell — which costs
    * O(queries·nprobe·k·dim) broadcast rows instead of O(queries·k·dim):
    * still artifact-scale, never corpus-scale. Same determinism pins as
    * [[ivfPqTopK]] (left-associated sums, 6-dp rounds before ranking,
    * ties to the smaller neighbor id). Output: `(query_id, rank, nbr_id,
    * adc)`.
    */
  def ivfPqResTopK(corpus: DataFrame, queries: DataFrame, topK: Int,
                   coarseIds: Array[Long], coarseEmbs: Array[Array[Double]],
                   subs: Int, residCents: Array[Array[Double]], nprobe: Int,
                   idCol: String = "vec_id",
                   embCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1, "nprobe must be at least 1")
    require(residCents.head.length % subs == 0,
      s"dim ${residCents.head.length} not divisible into $subs sub-vectors")
    ivfPqResTopKFromAssigned(
      ivfAssigned(corpus, coarseIds, coarseEmbs, idCol, embCol),
      queries, topK, coarseIds, coarseEmbs, subs, residCents, nprobe,
      idCol, embCol)
  }

  /** [[ivfPqResTopK]] from a pre-assigned corpus frame (see
    * [[ivfAssigned]]); the residual PQ codes are derived map-side from
    * the frame's vector and cell columns.
    */
  private def ivfPqResTopKFromAssigned(assigned: DataFrame,
                                       queries: DataFrame, topK: Int,
                                       coarseIds: Array[Long],
                                       coarseEmbs: Array[Array[Double]],
                                       subs: Int,
                                       residCents: Array[Array[Double]],
                                       nprobe: Int, idCol: String,
                                       embCol: String): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val subDim = residCents.head.length / subs
    // ONE map-only projection: coarse cell (native argmax), residual
    // (literal-map centroid lookup), PQ codes over the residual
    val resid = zip_with(col("e"),
      element_at(centroidMapLit(coarseIds, coarseEmbs), col("cell")),
      (x, y) => x - y)
    val codes = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.PqCodes(
        org.apache.spark.sql.GraftColumnBridge.expression(resid),
        residCents, subs))
    val coded = assigned
      .select(col("nbr_id"), col("cell"), codes.as("codes"))
    // Query side: nprobe nearest cells, KEEPING each probed cell's
    // centroid — the query residual is per (query, cell)
    val centDf = coarseIds.zip(coarseEmbs).toSeq
      .map { case (i, e) => (i, e.toSeq) }.toDF("cell", "ce")
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      asDouble(col(embCol)).as("qe"))
    val qCells = q.crossJoin(broadcast(centDf))
      .select(col("query_id"), col("cell"), col("ce"), col("qe"),
        round(cosine(col("qe"), col("ce")), 6).as("c_cos"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("c_cos").desc, col("cell").asc)))
      .where(col("rn") <= nprobe)
      .select(col("query_id"), col("cell"), col("ce"), col("qe"))
    // distance table per (query, probed cell): subs entries per code j,
    // each a left-associated sum of ((q[p] − ce[p]) − rc[p])² terms
    val cbook = broadcast(
      residCents.zipWithIndex.map { case (rc, j) => (j, rc.toSeq) }
        .toSeq.toDF("j", "rc"))
    val entryDists = array((0 until subs).map { s =>
      (0 until subDim).map { i =>
        val p = s * subDim + i
        val diff = (element_at(col("qe"), p + 1) -
          element_at(col("ce"), p + 1)) - element_at(col("rc"), p + 1)
        diff * diff
      }.reduceLeft(_ + _)
    }: _*)
    val qdt = qCells.crossJoin(cbook)
      .select(col("query_id"), col("cell"), col("j"), entryDists.as("ds"))
      .groupBy(col("query_id"), col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("j"), col("ds")))),
        x => x.getField("ds")).as("dtj"))
    val adc = (0 until subs).map { s =>
      element_at(
        element_at(col("dtj"),
          (element_at(col("codes"), s + 1) + 1).cast("int")),
        s + 1)
    }.reduceLeft(_ + _)
    val scored = coded.join(broadcast(qdt), Seq("cell"))
      .where(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"), round(adc, 6).as("adc"))
    GraftFunctions.register(spark)
    scored.groupBy(col("query_id"))
      .agg(expr(s"topk_by_score(-adc, nbr_id, $topK)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.nbr_id").as("nbr_id"), (-col("col.cos_sim")).as("adc"))
  }

  /** The residual-encoding gain priced at IDENTICAL bytes: recall\@k of
    * raw-vector IVF-PQ ([[ivfPqTopK]]) and residual IVF-PQ
    * ([[ivfPqResTopK]]) against the EXACT cosine neighbors, same (subs,
    * k, nprobe, codebook size) on both sides — so the only difference is
    * what the code bytes encode. ([[annRecallIvfPq]] holds quantization
    * fixed to price ROUTING; this holds routing fixed to price
    * QUANTIZATION — residual codes spend their bits on within-cell
    * variance, which is exactly what ranks neighbors inside a probed
    * cell.) All three legs are bounded top-k frames: O(queries·k)
    * comparison cost at any corpus scale.
    */
  def annRecallIvfPqRes(corpus: DataFrame, queries: DataFrame, k: Int,
                        ids: Array[Long], embs: Array[Array[Double]],
                        subs: Int, rawCents: Array[Array[Double]],
                        residCents: Array[Array[Double]],
                        nprobe: Int): DataFrame = {
    // ONE corpus pass shared by the exact leg (vector + norm ride the
    // frame) and both code legs (raw / residual codes derived map-side)
    // — see annRecallIvfPq's checkpoint note.
    val assigned = ivfAssigned(corpus, ids, embs, "vec_id", "embedding")
      .localCheckpoint()
    val truth = bruteForceFromC(
        assigned.select(col("nbr_id"), col("e").as("c_emb"), col("c_nrm")),
        queries, k, "vec_id", "embedding")
      .select(col("query_id"), col("nbr_id"))
    val raw = ivfPqTopKFromAssigned(assigned, queries, k, ids, embs, subs,
        rawCents, nprobe, "vec_id", "embedding")
      .select(col("query_id").as("q1"), col("nbr_id").as("n1"))
    val res = ivfPqResTopKFromAssigned(assigned, queries, k, ids, embs,
        subs, residCents, nprobe, "vec_id", "embedding")
      .select(col("query_id").as("q2"), col("nbr_id").as("n2"))
    truth
      .join(raw, col("query_id") === col("q1") && col("nbr_id") === col("n1"),
        "left")
      .join(res, col("query_id") === col("q2") && col("nbr_id") === col("n2"),
        "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        count(col("n1")).as("hit_raw"),
        count(col("n2")).as("hit_res"),
        round(count(col("n1")).cast("double") / count(lit(1)), 4)
          .as("recall_raw"),
        round(count(col("n2")).cast("double") / count(lit(1)), 4)
          .as("recall_res"))
  }

  /** Scalar (uint8) quantization encode: each dimension affinely mapped
    * to 0..255 against the corpus's per-dimension [min, max] — the 4×
    * compression rung between raw floats and product quantization (PQ
    * keeps 8 codes per vector, SQ keeps one PER DIMENSION with far lower
    * reconstruction error; FAISS ships both for exactly this trade).
    * Output: `(idCol, codes)` with the codes CSV-joined (the driver's
    * comparator cannot hash array cells).
    *
    * Scale shape: the per-dim bounds are ONE aggregate with 2·dim
    * min/max slots — map-side combined, a 1-row result, no explode and
    * no per-dim shuffle — broadcast back over the corpus; encoding is a
    * pure map-only projection. Determinism: min/max of floats cast to
    * double are exact and order-free, and the code is
    * `floor((v−mn)·255/(mx−mn) + 0.5)` — fixed-order double arithmetic
    * plus floor, identical in any engine (half-even `round` is not).
    * Constant dimensions code to 0.
    */
  def sqEncode(corpus: DataFrame, dim: Int,
               idCol: String = "vec_id",
               embCol: String = "embedding"): DataFrame =
    sqPrep(corpus, dim, idCol, embCol)
      .select(col(idCol),
        array_join(col("codes").cast("array<string>"), ",").as("codes"))

  /** SQ asymmetric-distance top-k: squared L2 of the EXACT query vector
    * against each corpus vector's reconstruction
    * `mn_d + code_d·(mx_d−mn_d)/255` — the search path that scans 1-byte
    * codes instead of 4-byte floats (the reconstruction constants are a
    * 2·dim broadcast row, so at 100 TB the scan moves a quarter of the
    * bytes and no embedding is ever re-read). Queries broadcast into the
    * code scan; per-query top-k via the bounded-heap `topk_by_score`
    * aggregate (k rows per task into the one shuffle). The distance is a
    * left-associated dim-term chain rounded to 6dp before ranking, so
    * the SQL oracle ranks identical values; ties break to the smaller
    * neighbor id. For query sets too large to broadcast, pre-bucket both
    * sides with the IVF coarse quantizer — this is the per-cell kernel.
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame, topK: Int, dim: Int,
             idCol: String = "vec_id",
             embCol: String = "embedding"): DataFrame =
    sqTopKFrom(sqPrep(corpus, dim, idCol, embCol), queries, topK, dim,
      idCol, embCol)

  /** [[sqTopK]] against an EXPLICIT (artifact-loaded — see [[ModelStore]])
    * bounds codebook: the bounds enter as O(dim) literals, so the encode
    * leg is pure map-only — the 1-row bounds aggregate and its broadcast
    * crossJoin disappear from the plan entirely.
    */
  def sqTopKWith(corpus: DataFrame, queries: DataFrame, topK: Int, dim: Int,
                 mns: Array[Double], mxs: Array[Double],
                 idCol: String = "vec_id",
                 embCol: String = "embedding"): DataFrame =
    sqTopKFrom(sqPrepWith(corpus, dim, mns, mxs, idCol, embCol),
      queries, topK, dim, idCol, embCol)

  private def sqTopKFrom(prep: DataFrame, queries: DataFrame, topK: Int,
                         dim: Int, idCol: String, embCol: String): DataFrame = {
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      asDouble(col(embCol)).as("qe"))
    val recon = (i: Int) =>
      element_at(col("mns"), i) +
        element_at(col("codes"), i).cast("double") *
          (element_at(col("mxs"), i) - element_at(col("mns"), i)) / lit(255.0)
    val dist = (1 to dim).map { i =>
      val diff = element_at(col("qe"), i) - recon(i)
      diff * diff
    }.reduceLeft(_ + _)
    val scored = prep
      .select(col(idCol).cast("long").as("nbr_id"),
        col("codes"), col("mns"), col("mxs"))
      .join(broadcast(q), col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"), round(dist, 6).as("sq_dist"))
    GraftFunctions.register(scored.sparkSession)
    scored.groupBy(col("query_id"))
      .agg(expr(s"topk_by_score(-sq_dist, nbr_id, $topK)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.nbr_id").as("nbr_id"), (-col("col.cos_sim")).as("sq_dist"))
  }

  /** Shared SQ preparation: corpus with per-dim bound arrays riding as a
    * broadcast 1-row crossJoin and the uint8 code array computed
    * map-only.
    */
  private def sqPrep(corpus: DataFrame, dim: Int,
                     idCol: String, embCol: String): DataFrame = {
    val c = fanOut(corpus.select(col(idCol), asDouble(col(embCol)).as("e")))
    val mm = c.agg(
      array((1 to dim).map(i => min(element_at(col("e"), i))): _*).as("mns"),
      array((1 to dim).map(i => max(element_at(col("e"), i))): _*).as("mxs"))
    val code = (i: Int) => {
      val v = element_at(col("e"), i)
      val mn = element_at(col("mns"), i)
      val mx = element_at(col("mxs"), i)
      when(mx === mn, lit(0)).otherwise(
        floor((v - mn) * lit(255.0) / (mx - mn) + lit(0.5)).cast("int"))
    }
    c.crossJoin(broadcast(mm))
      .withColumn("codes", array((1 to dim).map(code): _*))
  }

  /** [[sqPrep]] with the bounds as EXPLICIT literals (artifact-loaded —
    * see [[ModelStore]]): same `mns`/`mxs`/`codes` columns, but pure
    * map-only — no bounds aggregate, no broadcast crossJoin.
    */
  private def sqPrepWith(corpus: DataFrame, dim: Int, mns: Array[Double],
                         mxs: Array[Double], idCol: String,
                         embCol: String): DataFrame = {
    require(mns.length == dim && mxs.length == dim, "bounds dim mismatch")
    val code = (i: Int) => {
      val v = element_at(col("e"), i)
      val mn = lit(mns(i - 1))
      val mx = lit(mxs(i - 1))
      if (mxs(i - 1) == mns(i - 1)) lit(0)
      else floor((v - mn) * lit(255.0) / (mx - mn) + lit(0.5)).cast("int")
    }
    fanOut(corpus.select(col(idCol), asDouble(col(embCol)).as("e")))
      .withColumn("mns", array(mns.map(lit(_)): _*))
      .withColumn("mxs", array(mxs.map(lit(_)): _*))
      .withColumn("codes", array((1 to dim).map(code): _*))
  }

  /** The SQ "codebook" as driver arrays: per-dim [min, max] — ONE
    * aggregate with 2·dim slots, a 1-row collect. The train half of the
    * [[sqTopKWith]]/[[sqEncodeWith]] apply paths.
    */
  def sqBoundsArrays(corpus: DataFrame, dim: Int,
                     embCol: String = "embedding")
      : (Array[Double], Array[Double]) = {
    val c = corpus.select(asDouble(col(embCol)).as("e"))
    val row = c.agg(
      array((1 to dim).map(i => min(element_at(col("e"), i))): _*).as("mns"),
      array((1 to dim).map(i => max(element_at(col("e"), i))): _*).as("mxs"))
      .head()
    (row.getSeq[Double](0).toArray, row.getSeq[Double](1).toArray)
  }

  /** [[sqEncode]] against an explicit bounds codebook — pure map-only. */
  def sqEncodeWith(corpus: DataFrame, dim: Int, mns: Array[Double],
                   mxs: Array[Double], idCol: String = "vec_id",
                   embCol: String = "embedding"): DataFrame =
    sqPrepWith(corpus, dim, mns, mxs, idCol, embCol)
      .select(col(idCol),
        array_join(col("codes").cast("array<string>"), ",").as("codes"))

  /** Shared PQ preparation: normalized corpus + deterministic hash-ranked
    * codebook (the same bounded selection the IVF coarse quantizer uses).
    */
  private[graft] def pqPrep(corpus: DataFrame, subs: Int, k: Int,
                            idCol: String, embCol: String): (DataFrame, Array[Array[Double]]) = {
    val cents = pqCodebook(corpus, k, idCol, embCol)
    require(cents.head.length % subs == 0,
      s"dim ${cents.head.length} not divisible into $subs sub-vectors")
    (corpus.select(col(idCol).cast("long").as(idCol),
      asDouble(col(embCol)).as("e")), cents)
  }

  /** The PQ codebook as driver arrays: the deterministic hash-ranked
    * k-row sample (TakeOrderedAndProject — bounded heap, O(k·dim) driver
    * state at any corpus size). The train half of the
    * [[pqEncodeWith]]/[[pqTopKWith]] apply paths — persist it with
    * [[ModelStore.savePqCodebook]].
    */
  def pqCodebook(corpus: DataFrame, k: Int, idCol: String = "vec_id",
                 embCol: String = "embedding"): Array[Array[Double]] = {
    val centRows = corpus
      .select(col(idCol).cast("long").as(idCol), asDouble(col(embCol)).as("e"))
      .orderBy(h60(concat(lit("cent:"), col(idCol).cast("string"))).asc,
        col(idCol).asc)
      .limit(k)
      .select(col("e")).collect()
    require(centRows.nonEmpty, "no codebook rows: empty corpus")
    centRows.map(_.getSeq[Double](0).toArray)
  }

  /** [[pqEncode]] against an EXPLICIT (artifact-loaded) codebook — the
    * sampling scan disappears; encoding stays a pure map-only projection.
    */
  def pqEncodeWith(corpus: DataFrame, subs: Int,
                   cents: Array[Array[Double]], idCol: String = "vec_id",
                   embCol: String = "embedding"): DataFrame = {
    require(cents.head.length % subs == 0,
      s"dim ${cents.head.length} not divisible into $subs sub-vectors")
    val c = corpus.select(col(idCol).cast("long").as(idCol),
      asDouble(col(embCol)).as("e"))
    val codes = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.PqCodes(
        org.apache.spark.sql.GraftColumnBridge.expression(col("e")),
        cents, subs))
    val codeCols = (0 until subs).map(s =>
      element_at(col("codes"), s + 1).as(s"c$s"))
    c.withColumn("codes", codes)
      .select(col(idCol) +: codeCols: _*)
  }

  /** Nearest-centroid (max cosine) cell id per row; ties broken by smaller
    * centroid id; zero-norm rows deterministically land in the smallest
    * centroid id's cell.
    *
    * Centroid selection is a bounded hash-rank sample: the K corpus rows
    * with the smallest `h60("cent:" || id)` (id tie-break). This plans as
    * TakeOrderedAndProject — a bounded heap per task, K rows shuffled, K
    * rows collected — so the driver-side table is provably O(K) no matter
    * how large the corpus is, and selection stays deterministic and
    * engine-portable (the oracle replays the same md5 ranking).
    *
    * The K centroids are embedded as an array literal, so assignment is a
    * map-only projection — the big side is never joined, shuffled, or
    * windowed. Centroid norms are precomputed driver-side with the same
    * left-fold the column `dot` uses, so results are bit-identical to an
    * all-column-expression plan.
    */
  private def assignCells(df: DataFrame, idName: String, embName: String,
                          numCentroids: Int,
                          corpusForCentroids: Option[DataFrame] = None,
                          passThrough: Seq[String] = Nil): DataFrame = {
    val (ids, embs) = sampleCentroids(corpusForCentroids.getOrElse(df),
      numCentroids)
    assignToCentroids(df, idName, embName, ids, embs, passThrough)
  }

  /** The deterministic hash-rank centroid sample behind [[assignCells]]
    * (TakeOrderedAndProject — bounded heap, O(K) driver rows at any
    * corpus size), split out so multi-probe assignment can reuse the
    * IDENTICAL centroid table.
    */
  private def sampleCentroids(base: DataFrame,
                              numCentroids: Int): (Array[Long], Array[Array[Double]]) = {
    val Seq(bId, bEmb) = base.columns.take(2).toSeq
    val centRows = base
      .orderBy(h60(concat(lit("cent:"), col(bId).cast("string"))).asc,
        col(bId).asc)
      .limit(numCentroids)
      .select(col(bId).cast("long"), col(bEmb)).collect()
    require(centRows.nonEmpty, "no centroids: empty corpus")
    (centRows.map(_.getLong(0)), centRows.map(_.getSeq[Double](1).toArray))
  }

  /** Map-only nearest-centroid assignment against an EXPLICIT centroid
    * table (ids + vectors embedded as literals in the native argmax
    * expression) — the shared kernel of [[assignCells]] (hash-rank-sampled
    * centroids) and the [[kmeansTrain]] loop (each round's recomputed
    * means). Centroid norms are precomputed driver-side with the same
    * left-fold the column `dot` uses, so results are bit-identical to an
    * all-column-expression plan.
    */
  private def assignToCentroids(df: DataFrame, idName: String, embName: String,
                                ids: Array[Long], embs: Array[Array[Double]],
                                passThrough: Seq[String] = Nil): DataFrame = {
    val nrms = embs.map(e => math.sqrt(e.foldLeft(0.0d)((acc, x) => acc + x * x)))
    // Native argmax over the embedded centroid table (rounded to 6dp,
    // ties to the smaller id, zero norms → 0.0 — pinned to the oracle).
    val cell = org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.NearestCentroid(
        org.apache.spark.sql.GraftColumnBridge.expression(col(embName)),
        ids, embs, nrms))
    val nrmName = if (idName == "query_id") "q_nrm" else "c_nrm"
    df.withColumn("_nrm", sqrt(dot(col(embName), col(embName))))
      .select(Seq(col(idName), col(embName)) ++ passThrough.map(col) ++
        Seq(cell.as("cell"), col("_nrm").as(nrmName)): _*)
  }

  /** ANN-accuracy evaluation: recall@k of the IVF index against the exact
    * brute-force neighbors, per query — the calibration run before an
    * approximate index is trusted (the ANN analog of the MinHash
    * `sketch_eval` query: measure the approximation on the corpus itself,
    * then pick the nprobe/centroid knobs).
    *
    * Both inputs are the already-bounded top-k frames (O(|queries|·k)
    * rows), so the comparison join and the per-query aggregate cost
    * nothing at any corpus scale — all the heavy lifting is inside the
    * two (independently scale-shaped) retrieval plans.
    */
  def annRecall(corpus: DataFrame, queries: DataFrame, k: Int,
                numCentroids: Int): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, k)
      .select(col("query_id"), col("nbr_id"))
    val approx = ivfTopK(corpus, queries, k, numCentroids)
      .select(col("query_id").as("aq"), col("nbr_id").as("an"))
    exact.join(approx,
        col("query_id") === col("aq") && col("nbr_id") === col("an"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("an")).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact").cast("double"), 4).as("recall"))
  }

  /** Eval-set contamination at the EMBEDDING level — the semantic
    * complement of [[Decontaminate.flagOverlap]]'s n-gram pass (paraphrased
    * or reformatted benchmark items share no 8-grams but sit next to the
    * original in embedding space). Flags every corpus vector whose cosine
    * to ANY benchmark vector reaches `tau`, reporting the best-matching
    * benchmark id (ties broken toward the larger id, mirrored in the
    * oracle's DESC tiebreak).
    *
    * Scale shape: the benchmark side is small BY CONTRACT (an eval set,
    * not a corpus) and is broadcast; the corpus streams through the
    * map-side broadcast join — one scan, never shuffled. Only the flagged
    * rows (≥ tau) enter the per-vector max aggregation, so the single
    * shuffle carries the contaminated subset, not the corpus. Cosines are
    * 6dp-rounded before the threshold and the argmax, so any engine
    * selects and ranks identical values.
    */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame, tau: Double,
                            idCol: String = "vec_id",
                            embCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val c = corpus.select(col(idCol).cast("long").as("vec_id"),
        asDouble(col(embCol)).as("c_emb"))
      .withColumn("c_nrm", sqrt(dot(col("c_emb"), col("c_emb"))))
    val b = bench.select(col(idCol).cast("long").as("bench_id"),
        asDouble(col(embCol)).as("b_emb"))
      .withColumn("b_nrm", sqrt(dot(col("b_emb"), col("b_emb"))))
    c.crossJoin(broadcast(b))
      .select(col("vec_id"), col("bench_id"),
        round(cosineFromNorms(dot(col("c_emb"), col("b_emb")),
          col("c_nrm"), col("b_nrm")), 6).as("cos_sim"))
      .where(col("cos_sim") >= tau)
      .groupBy(col("vec_id"))
      // native lex_max: the built-in max(struct) falls back to
      // SortAggregate (struct buffers don't fit a hash-agg row); the
      // typed-imperative form keeps the argmax an O(1)-state hash
      // aggregate with map-side combine
      .agg(expr("lex_max(struct(cos_sim, bench_id))").as("m"))
      .select(col("vec_id"), col("m.bench_id").as("bench_id"),
        col("m.cos_sim").as("cos_sim"))
  }

  /** Cluster-composition audit: the coarse k-means cells crossed with the
    * labeled classes — per (cell, label) member counts and within-cell
    * shares. This is the purity/balance check run after any clustering
    * step before the cells are trusted as processing units (SemDeDup-style
    * pipelines audit exactly this: a cell dominated by one class dedups
    * safely, a mixed cell does not).
    *
    * Shape: cell assignment is the same map-only native argmax the IVF
    * index uses (no join, no shuffle of the corpus; the label rides the
    * projection), then ONE (cell, label) hash-aggregate with map-side
    * combine; the share window runs over the reduced cells×labels frame,
    * never the corpus.
    */
  def clusterMix(corpus: DataFrame, numCentroids: Int,
                 idCol: String = "vec_id",
                 embCol: String = "embedding",
                 labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = fanOut(corpus.select(col(idCol).cast("long").as("id"),
      asDouble(col(embCol)).as("e"), col(labelCol).as("label")))
    val assigned = assignCells(c, "id", "e", numCentroids,
      passThrough = Seq("label"))
    val g = assigned.groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("n_members"))
    val w = Window.partitionBy(col("cell"))
    g.withColumn("cell_n", sum(col("n_members")).over(w).cast("long"))
      .select(col("cell"), col("label"), col("n_members"), col("cell_n"),
        round(col("n_members").cast("double") / col("cell_n").cast("double"), 6).as("share"))
  }

  /** SemDeDup-shape semantic deduplication: coarse-quantize the corpus
    * into `numCentroids` k-means cells (the same deterministic hash-ranked
    * centroid table and map-only argmax the IVF index uses), then compare
    * EXACTLY — but only within a cell. Pairs with cosine ≥ `minCosine`
    * are the semantic duplicates; cross-cell pairs are never examined,
    * which is the algorithm's documented recall trade, not a shortcut.
    *
    * Scale shape: cell assignment is map-only (no join, no shuffle of the
    * corpus); the one shuffle is the self-join's hash partitioning on
    * `cell`. Within-cell work is O(Σ|cell|²), so K must grow with the
    * corpus to keep cells bounded (SemDeDup runs ~100k clusters at
    * billion-doc scale for exactly this reason) — K is a knob, the plan
    * shape is constant. Norms are computed once per row before the join,
    * so the pair comparison is a dot product, not three.
    */
  def semanticDedup(corpus: DataFrame, numCentroids: Int, minCosine: Double,
                    idCol: String = "vec_id",
                    embCol: String = "embedding"): DataFrame = {
    val c = fanOut(corpus.select(col(idCol).cast("long").as("id"),
      asDouble(col(embCol)).as("e")))
    val assigned = assignCells(c, "id", "e", numCentroids)
    val a = assigned.select(col("cell"), col("id").as("id_a"),
      col("e").as("ea"), col("c_nrm").as("na"))
    val b = assigned.select(col("cell"), col("id").as("id_b"),
      col("e").as("eb"), col("c_nrm").as("nb"))
    a.join(b, Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .select(col("cell"), col("id_a"), col("id_b"),
        round(cosineFromNorms(dot(col("ea"), col("eb")),
          col("na"), col("nb")), 6).as("cos_sim"))
      .where(col("cos_sim") >= minCosine)
  }

  /** Per-dimension corpus moments (count / mean / std) over an embedding
    * column — the feature-normalization statistics an embedding pipeline
    * computes before whitening or quantizing. `posexplode` turns the
    * vectors into (dim, value) pairs map-side, and ONE hash-aggregate on
    * the dimension id does the rest (64 groups for a 64-dim corpus, so
    * map-side combine reduces each task to 64 rows regardless of corpus
    * size — the shuffle is O(tasks × dims), not O(rows)).
    *
    * Moments are exact DECIMAL sums of the values quantized to 6 dp
    * (DECIMAL(18,6): cast rounding is HALF_UP in both Spark and DuckDB,
    * and the squared sum DECIMAL(37,12) stays inside 38-digit precision),
    * converted to double only in the final mean/std expressions — the
    * same engine-portable pattern as [[graft.ops.Events.valueZscore]].
    */
  def embStats(corpus: DataFrame, embCol: String = "embedding"): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val stats = corpus
      .select(posexplode(asDouble(col(embCol))))
      .select((col("pos") + 1).cast("long").as("dim"),
        col("col").cast(dec6).as("v"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("s2"))
    val nD = col("n").cast("double")
    val sD = col("s").cast("double")
    val variance = (col("s2").cast("double") - sD * sD / nD) / nD
    stats.select(col("dim"), col("n"),
      round(sD / nD, 6).as("mean_val"),
      round(sqrt(greatest(lit(0.0d), variance)), 6).as("std_val"))
  }

  /** Feature-QA outlier flagging: per-vector max |z| against the per-dim
    * corpus moments of [[embStats]].
    *
    * The stats side is O(dims) rows — broadcast — so the corpus is never
    * shuffled for the join; the per-vector regroup after the posexplode is
    * collapsed map-side (a vector's dims never leave their partition), so
    * the one shuffle carries O(vectors) rows, not O(vectors × dims).
    * Zero-variance dims contribute z = 0 (a constant column is not
    * evidence of a broken vector). Determinism: values quantized to 6-dp
    * decimals, stats are 6-dp-rounded doubles, z evaluated in double with
    * a fixed operation order, max is order-free — identical in any engine.
    *
    * Output: `(vec_id, max_absz, outlier)` with `outlier` decided on the
    * 4-dp-rounded max so the flag can never straddle a last-ulp boundary.
    */
  def embOutliers(corpus: DataFrame, zThreshold: Double = 3.0,
                  embCol: String = "embedding"): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val stats = embStats(corpus, embCol)
    val px = corpus
      .select(col("vec_id"), posexplode(asDouble(col(embCol))))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
        col("col").cast(dec6).as("v"))
    px.join(broadcast(stats), "dim")
      .select(col("vec_id"),
        when(col("std_val") > 0,
          abs(col("v").cast("double") - col("mean_val")) / col("std_val"))
          .otherwise(lit(0.0d)).as("z"))
      .groupBy(col("vec_id"))
      .agg(round(max(col("z")), 4).as("max_absz"))
      .select(col("vec_id"), col("max_absz"),
        (col("max_absz") > zThreshold).as("outlier"))
  }

  /** Top principal direction of the embedding corpus by distributed power
    * iteration — the dimensionality-reduction / feature-QA primitive (drift
    * detection, whitening, "is one axis eating all the variance?") an
    * embedding pipeline runs before trusting its vectors.
    *
    * Each round applies the centered covariance operator without ever
    * materializing the d×d matrix: score_i = ⟨x_i − μ, v⟩ per row, then
    * u = Σ_i score_i·(x_i − μ) per dimension — both inside ONE corpus scan
    * (the score rides the projection that feeds the posexplode, so the
    * round's plan is scan → map → 64-group hash-aggregate). Like
    * [[kmeansTrain]], ALL loop state is driver-side and O(dim): the
    * round's u collects as ≤ dim rows, is normalized/sign-fixed on the
    * driver, and re-enters round r+1 as an array literal. Nothing is
    * cached or checkpointed; shuffle volume is O(dims × tasks) per round
    * regardless of corpus size.
    *
    * Engine-portable arithmetic: inputs quantize to 6-dp decimals, μ is an
    * exact decimal mean rounded to 6 dp, the per-row score is an ORDER-FREE
    * decimal fold (each product cast to DECIMAL(28,12), decimal addition
    * exact), as are the per-dim u sums and the norm² reduction — so no
    * floating-point fold order leaks into the result and an unrolled SQL
    * CTE chain replays the loop bit-for-bit. The eigenvector's sign is
    * pinned by making the largest-|u| component (smallest dim on ties)
    * positive; loadings are 6-dp-rounded each round.
    *
    * Output: one row per dimension, `(dim, loading, eigval)` — `loading`
    * the unit top-eigenvector component, `eigval` the Rayleigh estimate
    * ‖u‖/n of the top covariance eigenvalue (constant across rows).
    */
  def pcaPower(corpus: DataFrame, rounds: Int, dim: Int,
               embCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (_, v, eigval, _) = pcaPowerLoop(corpus, rounds, dim, embCol)
    v.zipWithIndex
      .map { case (l, j) => ((j + 1).toLong, l, eigval) }.toSeq
      .toDF("dim", "loading", "eigval")
  }

  /** The loop behind [[pcaPower]], returning `(mu, v, eigval, n)` — shared
    * with [[pcaProject]] so projection uses EXACTLY the direction training
    * produced.
    */
  def pcaPowerLoop(corpus: DataFrame, rounds: Int, dim: Int,
                   embCol: String = "embedding")
      : (Array[Double], Array[Double], Double, Long) = {
    val (mu, comps, eigs, n) = pcaTopMLoop(corpus, rounds, dim, 1, embCol)
    (mu, comps(0), eigs(0), n)
  }

  /** Top-m principal components by power iteration WITH DEFLATION: each
    * component runs the same per-round one-scan update [[pcaPowerLoop]]
    * uses, but the round's image u is Gram-Schmidt-orthogonalized
    * against every ALREADY-FIXED component before normalization
    * (classical GS on u: p_j = ⟨u, v_j⟩, then w = u − Σ_j p_j·v_j, j
    * ascending), so the iteration converges to the next-largest
    * eigenvector instead of re-finding the top one. `m = 1` reproduces
    * [[pcaPowerLoop]] bit-for-bit (empty projection set).
    *
    * Scale shape is the loop's, m times: per (component, round) ONE
    * corpus scan into the dim-group decimal aggregate; ALL deflation
    * state is driver-side and O(dim·m) — the projections are m−1 exact
    * decimal folds over dim-length arrays. Nothing distributed grows
    * with m.
    *
    * Engine-portable arithmetic, like the 1-component loop: projections
    * p_j are order-free decimal sums of u·v_j products; the subtraction
    * runs per-dimension in ascending j (left-associated doubles, the
    * same chain an unrolled SQL `u - p1*v1 - p2*v2` evaluates); norms,
    * signs, and 6-dp rounds as before — so an unrolled CTE chain
    * replays every component exactly.
    *
    * Returns `(mu, components (m × dim unit vectors), eigvals (m),
    * n)`.
    */
  def pcaTopMLoop(corpus: DataFrame, rounds: Int, dim: Int, m: Int,
                  embCol: String = "embedding")
      : (Array[Double], Array[Array[Double]], Array[Double], Long) = {
    require(rounds >= 1, "power iteration needs at least one round")
    require(m >= 1 && m <= dim, s"need 1 <= m <= dim, got m=$m dim=$dim")
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    // 6-dp-quantized double input — the same portable basis as embStats.
    val c = corpus.select(
      transform(asDouble(col(embCol)), x => x.cast(dec6).cast("double")).as("e"))
    val muRows = c.select(posexplode(col("e")))
      .select((col("pos") + 1).cast("long").as("dim"),
        col("col").cast(dec6).as("v"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .select(col("dim"), col("n"),
        round(col("s").cast("double") / col("n"), 6).as("mu"))
      .collect()
    require(muRows.nonEmpty, "pcaPower: empty corpus")
    val n = muRows.head.getLong(1)
    val mu = muRows.sortBy(_.getLong(0)).map(_.getDouble(2))
    require(mu.length == dim, s"pcaPower: corpus dim ${mu.length} != $dim")
    val muLit = array(mu.map(lit(_)): _*)
    // Order-free decimal fold of a double-product array.
    def decDot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, w) => x * w), lit(0).cast(dec),
        (acc, p) => (acc + p.cast(dec)).cast(dec)).cast("double")
    // Mirrors the engines' double→DECIMAL(28,12) cast (shortest decimal
    // representation, HALF_UP) so the driver-side norm² reduction is the
    // same exact decimal sum the oracle computes.
    def q12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, scala.math.BigDecimal.RoundingMode.HALF_UP)
    val v0 = Array.fill(dim)(roundTo(1.0 / math.sqrt(dim.toDouble), 6))
    val comps = Array.ofDim[Array[Double]](m)
    val eigs = Array.ofDim[Double](m)
    for (t <- 0 until m) {
      var v = v0
      var eigval = 0.0d
      for (_ <- 1 to rounds) {
        val vLit = array(v.map(lit(_)): _*)
        val u = c
          .select(zip_with(col("e"), muLit, (x, mm) => x - mm).as("ce"))
          .select(col("ce"), decDot(col("ce"), vLit).as("score"))
          .select(col("score"), posexplode(col("ce")))
          .groupBy((col("pos") + 1).cast("long").as("dim"))
          .agg(sum((col("score") * col("col")).cast(dec)).as("s"))
          .select(col("dim"), col("s").cast("double").as("u"))
          .collect() // ≤ dim rows — bounded driver state by construction
          .sortBy(_.getLong(0)).map(_.getDouble(1))
        // Deflation: classical Gram-Schmidt of u against the fixed
        // components — p_j from u (not the running w), exact decimal
        // sums, then left-associated per-dim subtraction in ascending j.
        val w = u.clone()
        for (j <- 0 until t) {
          val pj = u.indices
            .map(dd => q12(u(dd) * comps(j)(dd))).sum.toDouble
          var dd = 0
          while (dd < w.length) { w(dd) -= pj * comps(j)(dd); dd += 1 }
        }
        val norm2 = w.map(x => q12(x * x)).sum.toDouble
        require(norm2 > 0,
          s"pcaPower: zero variance left for component ${t + 1}")
        val norm = math.sqrt(norm2)
        val jStar = w.indices.minBy(j => (-math.abs(w(j)), j))
        val sg = if (w(jStar) < 0) -1.0 else 1.0
        v = w.map(x => roundTo(sg * x / norm, 6))
        eigval = roundTo(norm / n, 6)
      }
      comps(t) = v
      eigs(t) = eigval
    }
    (mu, comps, eigs, n)
  }

  /** Map-only projection of the corpus onto the trained top component —
    * the "apply the fitted transform" half of PCA: per vector its first
    * principal score `pc1 = ⟨x − μ, v⟩` and the reconstruction residual
    * `resid = √(‖x − μ‖² − pc1²)` (v is unit up to 6-dp rounding), the
    * one-number "how much of this vector the top axis does NOT explain"
    * outlier signal.
    *
    * Training state (μ, v) enters as O(dim) literals, so the projection
    * pass is map-only — no join, no shuffle, one corpus scan; both inner
    * products are order-free decimal folds, so the oracle replays them
    * exactly. Output: `(vec_id, pc1, resid)`.
    */
  def pcaProject(corpus: DataFrame, rounds: Int, dim: Int,
                 idCol: String = "vec_id",
                 embCol: String = "embedding"): DataFrame = {
    val (mu, v, _, _) = pcaPowerLoop(corpus, rounds, dim, embCol)
    pcaProjectWith(corpus, mu, v, idCol, embCol)
  }

  /** The APPLY half of [[pcaProject]]: project onto an EXPLICIT (μ, v) —
    * typically artifact-loaded (see [[ModelStore]]) — so no training
    * loop runs. Same map-only one-scan shape: state enters as O(dim)
    * literals, both inner products are order-free decimal folds.
    */
  def pcaProjectWith(corpus: DataFrame, mu: Array[Double], v: Array[Double],
                     idCol: String = "vec_id",
                     embCol: String = "embedding"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val muLit = array(mu.map(lit(_)): _*)
    val vLit = array(v.map(lit(_)): _*)
    def decDot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, w) => x * w), lit(0).cast(dec),
        (acc, p) => (acc + p.cast(dec)).cast(dec)).cast("double")
    corpus
      .select(col(idCol).cast("long").as("vec_id"),
        zip_with(
          transform(asDouble(col(embCol)), x => x.cast(dec6).cast("double")),
          muLit, (x, m) => x - m).as("ce"))
      .select(col("vec_id"),
        decDot(col("ce"), vLit).as("s"),
        decDot(col("ce"), col("ce")).as("cc"))
      .select(col("vec_id"), round(col("s"), 6).as("pc1"),
        round(sqrt(greatest(lit(0.0d), col("cc") - col("s") * col("s"))), 6)
          .as("resid"))
  }

  /** Map-only projection onto m EXPLICIT (artifact-loaded) components —
    * the apply half of [[pcaTopMLoop]]: per vector its m principal
    * scores `pc_t = ⟨x − μ, v_t⟩` plus `resid_m`, the reconstruction
    * residual after ALL m components, `√(‖x − μ‖² − Σ_t pc_t²)` — the
    * "what the m-dim basis does NOT explain" outlier signal (a far
    * better anomaly score than the 1-component `resid`, which flags
    * anything off the single top axis). All training state enters as
    * O(dim·m) literals, so the pass is one scan, no join, no shuffle,
    * at any corpus size; every inner product is the same order-free
    * decimal fold [[pcaProjectWith]] uses, and the residual subtracts
    * the RAW (unrounded) score squares left-associated in component
    * order, exactly as the oracle replays. Output:
    * `(vec_id, pc1 … pcm, resid_m)`.
    */
  def pcaProjectMWith(corpus: DataFrame, mu: Array[Double],
                      comps: Array[Array[Double]],
                      idCol: String = "vec_id",
                      embCol: String = "embedding"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val muLit = array(mu.map(lit(_)): _*)
    def decDot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, w) => x * w), lit(0).cast(dec),
        (acc, p) => (acc + p.cast(dec)).cast(dec)).cast("double")
    val rawScores = comps.zipWithIndex.map { case (v, t) =>
      decDot(col("ce"), array(v.map(lit(_)): _*)).as(s"_s${t + 1}")
    }
    val residM = comps.indices
      .foldLeft(col("cc")) { (acc, t) =>
        acc - col(s"_s${t + 1}") * col(s"_s${t + 1}")
      }
    corpus
      .select(col(idCol).cast("long").as("vec_id"),
        zip_with(
          transform(asDouble(col(embCol)), x => x.cast(dec6).cast("double")),
          muLit, (x, mm) => x - mm).as("ce"))
      .select(col("vec_id") +: decDot(col("ce"), col("ce")).as("cc") +:
        rawScores.toSeq: _*)
      .select(col("vec_id") +:
        comps.indices.map(t => round(col(s"_s${t + 1}"), 6).as(s"pc${t + 1}")) :+
        round(sqrt(greatest(lit(0.0d), residM)), 6).as("resid_m"): _*)
  }

  /** Retrieval-eval companion to [[annRecall]]/`ndcg_eval`: mean
    * reciprocal rank of the first SAME-LABEL neighbor in the exact cosine
    * top-k — the "how high does the first relevant hit rank" metric,
    * with label agreement as the relevance oracle.
    *
    * Scale shape: everything after [[bruteForceTopK]] (one corpus scan,
    * bounded per-query heaps) is bounded — the label lookup joins the
    * corpus against the BROADCAST (queries × k)-row ranked frame
    * (corpus side map-only), and the reciprocal ranks aggregate over
    * ≤ queries rows. The tiny RR frame is checkpointed before being read
    * twice (per-query rows + the MRR summary), so no corpus re-scan
    * hides behind the second consumer. RR sums are exact decimals —
    * order-free, engine-portable.
    *
    * Output: `(query_id, first_rank, rr, mrr)` — `first_rank`/`rr` are 0
    * for queries with no same-label neighbor in the top-k; `mrr` is the
    * constant corpus-level mean.
    */
  def mrrAt(corpus: DataFrame, queries: DataFrame, k: Int,
            idCol: String = "vec_id", embCol: String = "embedding",
            labelCol: String = "label"): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val top = bruteForceTopK(corpus, queries, k, idCol, embCol)
    val nbrLab = corpus.select(col(idCol).cast("long").as("nbr_id"),
      col(labelCol).as("nlabel"))
    val labeled = nbrLab.join(broadcast(top), "nbr_id")
    val qlab = queries.select(col(idCol).cast("long").as("query_id"),
      col(labelCol).as("qlabel"))
    val firsts = labeled.join(broadcast(qlab), "query_id")
      .where(col("nlabel") === col("qlabel"))
      .groupBy(col("query_id")).agg(min(col("rank")).as("first_rank"))
    val rr = qlab.join(firsts, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("first_rank"), lit(0L)).as("first_rank"),
        when(col("first_rank").isNull, lit(0.0d))
          .otherwise(round(lit(1.0d) / col("first_rank"), 6)).as("rr"))
      .localCheckpoint() // ≤ queries rows; read twice below
    val summary = rr.agg(
      round(sum(col("rr").cast(dec6)).cast("double") / count(lit(1)), 6)
        .as("mrr"))
    rr.crossJoin(broadcast(summary))
  }

  /** Map-only cell assignment against an EXPLICIT (artifact-loaded —
    * see [[ModelStore.centroidArrays]]) centroid table: the APPLY half of
    * [[kmeansTrain]]. The centroids embed as literals in the native
    * argmax expression, so the corpus is never joined, shuffled, or
    * windowed — the shipped-model scoring pass at any scale. Output:
    * `(idCol, cell)`.
    */
  def assignCellsWith(df: DataFrame, ids: Array[Long],
                      embs: Array[Array[Double]],
                      idCol: String = "vec_id",
                      embCol: String = "embedding"): DataFrame =
    assignToCentroids(
      fanOut(df.select(col(idCol), asDouble(col(embCol)).as("e"))),
      idCol, "e", ids, embs)
      .select(col(idCol), col("cell"))

  /** Mean average precision @ k — the fourth leg of the retrieval-eval
    * family (recall: [[annRecall]], graded gain: `ndcg_eval`, first-hit
    * rank: [[mrrAt]], full-ranking precision: here). Per query over the
    * exact cosine top-k, with label agreement as the relevance oracle:
    * AP = (Σ over relevant positions r of precision@r) / R, where
    * R = #relevant in the top-k; queries with no relevant neighbor score
    * 0. The prefix-precision sum exercises a per-query running count —
    * but ONLY over the bounded (|queries| × k)-row ranked frame, never
    * the corpus (the window partitions ≤ k rows per query).
    *
    * Determinism: precision@r quantizes to a 6-dp decimal before the
    * per-query sum (fold-order-free), AP and MAP round at 6 dp. The tiny
    * per-query frame is checkpointed before its two consumers (rows +
    * the 1-row MAP broadcast). Output:
    * `(query_id, n_rel, ap, map)` — `map` is the constant corpus mean.
    */
  def mapAt(corpus: DataFrame, queries: DataFrame, k: Int,
            idCol: String = "vec_id", embCol: String = "embedding",
            labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val top = bruteForceTopK(corpus, queries, k, idCol, embCol)
    val nbrLab = corpus.select(col(idCol).cast("long").as("nbr_id"),
      col(labelCol).as("nlabel"))
    val labeled = nbrLab.join(broadcast(top), "nbr_id")
    val qlab = queries.select(col(idCol).cast("long").as("query_id"),
      col(labelCol).as("qlabel"))
    val marked = labeled.join(broadcast(qlab), "query_id")
      .select(col("query_id"), col("rank"),
        (col("nlabel") === col("qlabel")).cast("long").as("rel"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefixed = marked.select(col("query_id"), col("rank"), col("rel"),
      sum(col("rel")).over(w).as("cumrel"))
    val agg = prefixed.groupBy(col("query_id")).agg(
      sum(col("rel")).as("n_rel"),
      sum(when(col("rel") === 1,
        round(col("cumrel").cast("double") / col("rank"), 6).cast(dec6))
        .otherwise(lit(0).cast(dec6))).as("psum"))
    val perQ = qlab.join(agg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        when(coalesce(col("n_rel"), lit(0L)) > 0,
          round(col("psum").cast("double") / col("n_rel"), 6))
          .otherwise(lit(0.0d)).as("ap"))
      .localCheckpoint() // ≤ queries rows; read twice below
    val summary = perQ.agg(
      round(sum(col("ap").cast(dec6)).cast("double") / count(lit(1)), 6)
        .as("map"))
    perQ.crossJoin(broadcast(summary))
  }

  /** HALF_UP (away-from-zero on ties) rounding of a double via its shortest
    * decimal representation — the same value `round(x, s)` produces in
    * Spark SQL and DuckDB. */
  private def roundTo(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** Per-query top-k by similarity (desc), deterministic tie-break on id.
    * Bounded-heap aggregate with map-side partial aggregation — see
    * [[graft.functions.TopKByScore]].
    */
  private def topPerKey(scored: DataFrame, k: Int): DataFrame = {
    GraftFunctions.register(scored.sparkSession)
    scored.groupBy(col("query_id"))
      .agg(expr(s"topk_by_score(cos_sim, nbr_id, $k)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.nbr_id").as("nbr_id"), col("col.cos_sim").as("cos_sim"))
  }
}
