package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** Deduplication operators for training-data pipelines, designed so every
  * stage is a declarative Spark plan (map-side work + one keyed shuffle),
  * never a driver-side loop.
  *
  * Scale design:
  *  - exact dedup is a single hash-aggregate on the normalized text — at
  *    100 TB, group on a 60-bit digest of the text instead of the text
  *    itself to keep shuffle rows small (both variants provided);
  *  - MinHash signatures are computed with higher-order functions inside
  *    one projection (no explode, no shuffle): k hashes over the shingle
  *    array via `transform`+`array_min`. The only shuffle is the band-
  *    bucket self-join, whose keys are (band, bucket) — uniform by
  *    construction of the hash;
  *  - LSH buckets can be pathologically large when a corpus contains
  *    millions of copies of one page; `maxBucket` drops those buckets
  *    (their members are already caught by exact dedup), bounding the
  *    per-bucket pair blow-up to maxBucket² — the standard guard for
  *    skewed web corpora.
  */
object Dedup {

  /** Exact dedup: representative (min doc_id) + multiplicity per text. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))

  /** Exact dedup keyed on the text digest — shuffle carries 32-byte md5
    * keys instead of document bodies; preferred at scale. The FULL 128-bit
    * digest is the group key: at 1e12 docs the birthday bound is
    * n²/2^129 ≈ 1e24/6.8e38 ≈ 1.5e-15 expected collisions — genuinely
    * "exact" for any realistic corpus, unlike a 60-bit key whose
    * ~n²/2^61 collisions would silently merge distinct documents.
    */
  def exactByDigest(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("text_md5"))
      .groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("text_md5"), col("n_copies"))

  /** Chunk-level exact dedup (keep-first): over an exploded chunk table
    * (doc_id, chunk_id, chunk_text), group chunks by their md5 digest and
    * keep the earliest (doc_id, chunk_id) occurrence — the sub-document
    * analog of [[exactByDigest]], catching boilerplate paragraphs shared
    * across otherwise-distinct pages (headers, license blocks, nav bars).
    * One hash-aggregate whose shuffle rows are (16-byte digest, two ids):
    * chunk bodies never move, so at 100 TB this costs one digest scan +
    * one small shuffle regardless of chunk size. The keep-first reduction
    * is the native `lex_min` ([[graft.functions.LexExtreme]]) — the
    * built-in `min(struct)` cannot live in a hash-agg buffer and falls
    * back to SortAggregate, sorting every partition before aggregating.
    */
  def chunkDedup(chunks: DataFrame): DataFrame = {
    GraftFunctions.register(chunks.sparkSession)
    chunks.select(md5(col("chunk_text")).as("chunk_md5"),
        col("doc_id"), col("chunk_id"))
      .groupBy(col("chunk_md5"))
      .agg(expr("lex_min(struct(doc_id, chunk_id))").as("keep"),
        count(lit(1)).as("n_copies"))
      .select(col("keep.doc_id").as("doc_id"),
        col("keep.chunk_id").as("chunk_id"),
        col("chunk_md5"), col("n_copies"))
  }

  /** doc_id + MinHash signature: `sig` is an array of k universal-hash
    * minima over `shingleN`-word shingles, computed by the native one-pass
    * [[graft.functions.MinHash31]] expression (one md5 per shingle total,
    * not one per hash function). Documents with fewer than `shingleN`
    * tokens drop out.
    */
  def minhashSignatures(docs: DataFrame, k: Int, shingleN: Int): DataFrame = {
    // Hash-heavy map stage: fan a few-split scan out first, so the
    // per-shingle hashing uses every core. Only the two columns read
    // below cross that shuffle.
    val sh = shingles(tokens(col("text")), shingleN)
    graft.spark.Adaptive.fanOut(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), sh.as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("doc_id"), minhash31(col("sh"), k).as("sig"))
  }

  /** Candidate near-duplicate pairs via banded MinHash-LSH.
    * `k` hashes split into `bands` bands of `k/bands` rows; a pair is a
    * candidate iff some band agrees on all its rows. Bucket key is the
    * concatenation of the band's signature values.
    */
  def minhashPairs(docs: DataFrame, k: Int, bands: Int, shingleN: Int,
                   maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    // Materialize signatures ONCE. The plan below references them four
    // times (bucket counts, the guard join, both sides of the self-join);
    // without a barrier each reference re-computes k md5 hashes per
    // shingle AND whole-stage codegen compiles four copies of that
    // expression tree (minutes of janino time for large k). At cluster
    // scale you'd persist signatures to a table for the same reason.
    val sig = minhashSignatures(docs, k, shingleN).localCheckpoint()
    pairsFromSignatures(sig, k, bands, maxBucket)
  }

  /** [[minhashPairs]] from an already-materialized `(doc_id, sig)` frame —
    * the shared kernel that lets [[minhashAccuracy]] (and any caller that
    * also needs the signatures themselves) compute the k-hash signature
    * pass ONCE instead of once for the pairs and once again for its own
    * use. `sig` must be materialized (checkpointed/persisted) by the
    * caller; the pair plan references it four times.
    */
  private[graft] def pairsFromSignatures(sig: DataFrame, k: Int, bands: Int,
                                         maxBucket: Int): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val r = k / bands
    val buckets = bandBuckets(sig, bands, r)
    val smallBuckets = buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bkt_n"))
      .where(col("bkt_n") <= maxBucket)
      .select(col("band"), col("bucket"))
    val b = buckets.join(smallBuckets, Seq("band", "bucket"))
    b.as("x").join(b.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Band-bucket explode of a `(doc_id, sig)` signature frame: one row per
    * (doc, band) with the band's `r` signature values concatenated as the
    * bucket key — the shared kernel of [[minhashPairs]] (self-join dedup)
    * and the [[signatureStore]]/[[incrNearDup]] incremental path.
    */
  private[graft] def bandBuckets(sig: DataFrame, bands: Int, r: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", slice(col("sig"), b * r + 1, r).cast("array<string>")).as("bucket"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** One-time build of the persisted LSH signature store an incremental
    * near-dup pipeline keeps alongside its corpus: one row per (base doc,
    * band) carrying the band's bucket key AND the bucket's base-side size
    * `bkt_n`. Persisting the size with the row is the point — the nightly
    * [[incrNearDup]] batch then applies the hot-bucket guard with a
    * pushed-down filter on its own scan, without ever re-aggregating the
    * base corpus (the store is O(base × bands) rows, written once, read
    * with `bkt_n <= maxBucket` pruned at the scan).
    *
    * At cluster scale this frame is written bucketed/partitioned by
    * (band, bucket); here it is returned for the caller to persist.
    */
  def signatureStore(docs: DataFrame, k: Int, bands: Int,
                     shingleN: Int): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    // Signatures checkpoint for the same reason minhashPairs': the k-hash
    // map stage is the expensive leg and feeds both the bucket counts and
    // the store rows.
    val sig = minhashSignatures(docs, k, shingleN).localCheckpoint()
    val buckets = bandBuckets(sig, bands, k / bands)
    val counts = buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bkt_n"))
    buckets.join(counts, Seq("band", "bucket"))
      .select(col("doc_id"), col("band"), col("bucket"), col("bkt_n"))
  }

  /** Incremental near-dup: band the INCOMING batch's signatures and probe
    * the persisted base [[signatureStore]] — one row `(doc_id, dup_of)`
    * per (incoming doc, base candidate) sharing any LSH band bucket.
    * Downstream, [[jaccardRefine]] confirms candidates exactly, same as
    * the batch path.
    *
    * Scale shape — base-side work is ONE pruned columnar scan, O(batch)
    * everywhere else: the batch is small by contract and its banded keys
    * BROADCAST, so the store streams through a map-side hash join — never
    * shuffled, never re-aggregated (the hot-bucket guard reads the
    * store's own precomputed `bkt_n`, filtered at the scan). The only
    * shuffle in the plan is the candidate-pair distinct, O(candidates).
    */
  def incrNearDup(store: DataFrame, incoming: DataFrame, k: Int, bands: Int,
                  shingleN: Int, maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val incBuckets =
      bandBuckets(minhashSignatures(incoming, k, shingleN), bands, k / bands)
    store.where(col("bkt_n") <= maxBucket)
      .select(col("band"), col("bucket"), col("doc_id").as("dup_of"))
      .join(broadcast(incBuckets), Seq("band", "bucket"))
      .select(col("doc_id"), col("dup_of"))
      .distinct()
  }

  /** SimHash fingerprint per document (see functions.SimHash60): 60-bit
    * signature whose Hamming distance approximates cosine similarity of
    * the token-frequency vectors.
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), simhash60(tokens(col("text"))).as("simhash"))

  /** Exact n-gram Jaccard computed ONLY over candidate pairs (doc_a, doc_b)
    * — e.g. the output of [[minhashPairs]]. This is the scale-correct
    * two-stage near-dup pipeline: LSH bounds the candidate set to
    * O(n·bucket), then the exact refinement joins each pair with its two
    * (distinct) shingle sets and intersects them map-side. No quadratic
    * self-join ever touches the corpus.
    */
  def jaccardRefine(docs: DataFrame, pairs: DataFrame, shingleN: Int,
                    minJaccard: Double): DataFrame = {
    // Shingle sets are only needed for documents that appear in a
    // candidate pair — a tiny subset of the corpus once LSH has pruned.
    // Semi-join docs down to those ids BEFORE the (expensive) shingle
    // re-tokenization: at 100 TB this turns a full-corpus pass into a
    // candidates-only pass. Materialized once: referenced by both sides
    // of the pair join (same rationale as in minhashPairs).
    val candIds = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val sets = docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        array_distinct(shingles(tokens(col("text")), shingleN)).as("sh"))
      .where(size(col("sh")) > 0)
      .localCheckpoint()
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"), 4))
      .where(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Asymmetric containment over candidate pairs: `|A∩B| / |A|` (and the
    * B-side mirror) — the subsumption metric Jaccard misses. A short
    * document fully embedded in a long one has LOW Jaccard (the union is
    * dominated by the long doc) but containment ≈ 1; web dedup pipelines
    * track both resemblance and containment for exactly this case. Same
    * scale shape as [[jaccardRefine]]: shingle sets are rebuilt only for
    * documents that survive LSH candidacy, so no quadratic work ever
    * touches the corpus.
    */
  def containmentRefine(docs: DataFrame, pairs: DataFrame, shingleN: Int,
                        minContain: Double): DataFrame = {
    val candIds = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val sets = docs.join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        array_distinct(shingles(tokens(col("text")), shingleN)).as("sh"))
      .where(size(col("sh")) > 0)
      .localCheckpoint()
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / size(col("sh_a")).cast("double"), 4).as("contain_a"),
        round(col("inter").cast("double") / size(col("sh_b")).cast("double"), 4).as("contain_b"))
      .withColumn("max_contain", greatest(col("contain_a"), col("contain_b")))
      .where(col("max_contain") >= minContain)
  }

  /** Source-level similarity matrix: for every pair of sources, the number
    * of distinct `shingleN`-gram digests they share, with overlap
    * coefficient (`inter / min(|A|,|B|)`) and Jaccard — the "which crawls
    * are near-copies of each other" curation signal that decides whether
    * two sources must be deduplicated jointly or can be processed
    * independently.
    *
    * Scale shape: grams cross the shuffle only as 8-byte h60 digests; the
    * per-source distinct collapses (source, digest) duplicates map-side;
    * the self-join fan-out is bounded by sources² per universal gram
    * (sources is a small dimension), and the size join is broadcast-sized
    * (|sources| rows). The distinct gram set is materialized once — it
    * feeds the size aggregate and both sides of the self-join.
    */
  def sourceOverlap(docs: DataFrame, shingleN: Int): DataFrame = {
    // Tokenize+shingle+hash is the CPU-heavy leg — fan a one-row-group
    // scan to cluster width first (see Adaptive.fanOut).
    val sg = graft.spark.Adaptive.fanOut(docs.select(col("source"), col("text")))
      .select(col("source"), explode(shingles(tokens(col("text")), shingleN)).as("g"))
      .select(col("source"), h60(col("g")).as("gd"))
      .distinct()
      .localCheckpoint()
    val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sg.as("x").join(sg.as("y"),
        col("x.gd") === col("y.gd") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.select(col("source").as("src_a"), col("n").as("n_a")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"), col("n_a"), col("n_b"),
        round(col("n_shared").cast("double") / least(col("n_a"), col("n_b")).cast("double"), 4).as("overlap"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 4).as("jaccard"))
  }

  /** LSH candidates refined to exact Jaccard — the composed near-dup op.
    * The candidate pairs are materialized once (they are tiny after LSH);
    * jaccardRefine references them twice (id extraction + the pair join),
    * and without a barrier each reference would re-run the whole LSH
    * pipeline.
    */
  def nearDupPairs(docs: DataFrame, k: Int, bands: Int, shingleN: Int,
                   minJaccard: Double, maxBucket: Int = 1000): DataFrame =
    jaccardRefine(docs,
      minhashPairs(docs, k, bands, shingleN, maxBucket).localCheckpoint(),
      shingleN, minJaccard)

  /** Sketch-accuracy evaluation: for every LSH candidate pair, the MinHash
    * ESTIMATE of Jaccard (fraction of agreeing signature components — the
    * unbiased estimator LSH is built on) side-by-side with the EXACT
    * shingle-set Jaccard, plus the absolute error. This is the calibration
    * query a dedup pipeline runs before picking k/bands thresholds: it
    * quantifies, on the corpus itself, how tight the sketch is.
    *
    * Scale shape: signatures and candidate pairs are the same bounded
    * artifacts [[minhashPairs]] already builds (materialized once); the
    * estimate is a map-side `zip_with` over two k-length arrays; the exact
    * side reuses [[jaccardRefine]]'s candidates-only re-shingling. Nothing
    * here touches more than the candidate set.
    */
  def minhashAccuracy(docs: DataFrame, k: Int, bands: Int, shingleN: Int,
                      maxBucket: Int = 1000): DataFrame = {
    // ONE signature pass: the same materialized frame feeds the LSH pair
    // generation AND the estimate join below (it used to be computed and
    // checkpointed twice — a full duplicate k-hash corpus pass).
    val sig = minhashSignatures(docs, k, shingleN).localCheckpoint()
    val pairs = pairsFromSignatures(sig, k, bands, maxBucket).localCheckpoint()
    val exact = jaccardRefine(docs, pairs, shingleN, minJaccard = 0.0)
    val est = pairs
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).cast("double") / k, 4).as("est_j"))
    est.join(exact, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("est_j"),
        col("jaccard").as("exact_j"),
        round(abs(col("est_j") - col("jaccard")), 4).as("abs_err"))
  }

  /** Canonical duplicate-cluster labels: every document that appears in a
    * near-dup pair gets the smallest doc_id of its connected component —
    * the "keep one doc per duplicate cluster" step that turns pairwise
    * candidates into a deduplicated corpus.
    *
    * Pregel-style min-label propagation: each iteration is one distributed
    * join + min-aggregate (labels flow one hop), so the iteration count is
    * the component diameter — LSH dup clusters are near-cliques, so 2-3 in
    * practice, bounded by `maxIter`. The driver loop only coordinates; all
    * data movement is joins on the (small) pair set, never the corpus.
    * `localCheckpoint` cuts the growing lineage each round (at cluster
    * scale, a reliable-storage checkpoint does the same job).
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    // The per-round label frames hold at most |edges| ids: broadcast them
    // under the edge cap, measured by a count the eager checkpoint makes
    // free (see Adaptive.broadcastIf).
    val b = graft.spark.Adaptive.broadcastIf(pairs.sparkSession, edges.count(),
      graft.spark.Adaptive.BroadcastEdgesMax)
    // LAZY checkpoints + ONE action per round: the changed-count read is
    // also the materializing action for that round's label frame (the
    // count consumes `next`'s RDD, which caches as a side effect — column
    // pruning cannot reach through the LogicalRDD boundary), so each round
    // costs one Spark job instead of the eager-checkpoint + count PAIR the
    // loop used to schedule. Same per-round frames, half the jobs — the
    // job-scheduling floor, not the data, dominates a near-clique cluster
    // graph's 2-3 rounds. Round r−1's blocks are freed as soon as round
    // r's count lands (same O(1)-storage discipline as the PageRank loop).
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster_id"))
      .localCheckpoint(eager = false)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val prop = edges.join(b(labels), edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("cluster_id"))
      val next = labels.unionAll(prop)
        .groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))
        .localCheckpoint(eager = false)
      changed = next.join(b(labels.withColumnRenamed("cluster_id", "prev")), "id")
        .where(col("cluster_id") < col("prev")).count()
      graft.spark.CheckpointUtil.unpersistCheckpointed(labels)
      labels = next
      iter += 1
    }
    labels.select(col("id").as("doc_id"), col("cluster_id"))
  }

  /** Canonical-document selection — the terminal step of a near-dup
    * pipeline: within each duplicate cluster keep the best-scoring member
    * (quality desc, doc_id as the deterministic tie-break). One shuffle on
    * cluster_id; window partitions are bounded by cluster size, which the
    * LSH `maxBucket` guard already caps upstream — no hot-key hazard.
    *
    * @param clusters (doc_id, cluster_id) as produced by [[dupClusters]]
    * @param scored   (doc_id, quality) per-document scores
    */
  def keepBest(clusters: DataFrame, scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster_id"))
    clusters.join(scored, "doc_id")
      .withColumn("n_members", count(lit(1)).over(w).cast("long"))
      .withColumn("rn",
        row_number().over(w.orderBy(col("quality").desc, col("doc_id").asc)))
      .where(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_doc_id"),
        col("quality").as("best_quality"), col("n_members"))
  }
}
