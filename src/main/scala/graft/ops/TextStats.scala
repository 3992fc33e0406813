package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/** Text-analysis operators for training-data pipelines. Every operator is a
  * map-only projection (no shuffle at all): at 100 TB these run at scan
  * speed and compose with any downstream filter — exactly the shape a
  * corpus-cleaning pass wants. All arithmetic is expressed with built-in
  * (codegen'd) functions so a SQL oracle can mirror it bit-for-bit.
  */
object TextStats {

  /** Whitespace token count + a BPE-ish subword count: alphanumeric runs
    * and individual non-space punctuation both count as tokens, roughly
    * matching how a byte-pair tokenizer fragments text.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      // bigint, matching the natural len()/length() type of SQL oracles
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      size(filter(split(col("text"), "\\s+"), t => t =!= lit(""))).cast("long").as("n_ws_tokens"),
      length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", "")).cast("long").as("n_punct"),
      length(col("text")).cast("long").as("len"))

  /** Stopword sets for the n-gram language-ID heuristic. Deliberately tiny
    * and ASCII-only: language ID at corpus scale is a *routing* signal, not
    * a linguistic judgment, and a 10-word profile already separates the big
    * European languages. Deterministic and SQL-mirrorable.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "por", "con", "para", "es"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "pour", "qui", "pas"),
  )

  /** Language ID: argmax over per-language stopword hit counts, tie-broken
    * by profile order then "und" (undetermined) when nothing hits.
    */
  def langId(docs: DataFrame, passThrough: Seq[String] = Nil): DataFrame = {
    val toks = array_distinct(tokens(col("text")))
    val hits = LangProfiles.map { case (lang, words) =>
      struct(size(array_intersect(toks, array(words.map(lit): _*))).as("hits"),
        lit(lang).as("lang"))
    }
    // array_max on (hits, lang) structs: max hits, then lexicographically
    // larger lang — pin determinism by ordering profiles so ties resolve
    // the same in SQL (greatest-by with explicit comparison chain instead).
    val best = hits.reduceLeft { (a, b) =>
      when(b.getField("hits") > a.getField("hits"), b).otherwise(a)
    }
    docs.select(col("doc_id") +: passThrough.map(col) :+
      when(best.getField("hits") > 0, best.getField("lang"))
        .otherwise(lit("und")).as("lang_pred") :+
      best.getField("hits").cast("long").as("lang_hits"): _*)
  }

  /** Quality score in [0,1]: mean of three bounded components —
    * length score (saturating at 500 chars), alpha ratio, and mean word
    * length score (penalizes both single-char noise and unbroken blobs).
    * Rounded to 4dp so double arithmetic compares across engines.
    */
  def qualityScore(docs: DataFrame, passThrough: Seq[String] = Nil): DataFrame = {
    val len = length(col("text")).cast("double")
    val nToks = size(tokens(col("text"))).cast("double")
    val alpha = length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
    val lenScore = least(len / 500.0d, lit(1.0d))
    val alphaRatio = when(len > 0, alpha / len).otherwise(0.0d)
    val meanWord = when(nToks > 0, alpha / nToks).otherwise(0.0d)
    val wordScore = when(meanWord >= 3.0d && meanWord <= 10.0d, 1.0d)
      .otherwise(when(meanWord > 0.0d, 0.5d).otherwise(0.0d))
    docs.select(col("doc_id") +: passThrough.map(col) :+
      round((lenScore + alphaRatio + wordScore) / 3.0d, 4).as("quality"): _*)
  }

  /** Per-source document cap — "at most k docs per domain", the curation
    * step that stops one domain from dominating a training mixture.
    * Selection is (quality desc, doc_id asc) per source via the
    * bounded-heap `topk_by_score` aggregate, NOT a window: partial
    * aggregation reduces every map task to ≤ k rows per source BEFORE
    * the shuffle, so a hot domain with 10^9 docs costs O(k) heap state
    * per task instead of concentrating its full row set on one reducer
    * for sorting. Output: (doc_id, source, quality) of the kept docs.
    */
  def groupCap(docs: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    qualityScore(docs, Seq("source"))
      .groupBy(col("source"))
      .agg(expr(s"topk_by_score(quality, doc_id, $k)").as("top"))
      .select(col("source"), explode(col("top")).as("e"))
      .select(col("e.nbr_id").as("doc_id"), col("source"),
        col("e.cos_sim").as("quality"))
  }

  /** Text normalization — the first stage of any curation pipeline:
    * strip ASCII control characters, collapse whitespace runs to single
    * spaces, trim. Map-only; emits the cleaned length and digest (the
    * compact signals dedup/filter stages key on) rather than re-shipping
    * the body.
    */
  def cleanText(docs: DataFrame): DataFrame = {
    val cleaned = trim(regexp_replace(
      regexp_replace(col("text"), "[\\x00-\\x1f]", ""), "\\s+", " "))
    docs.select(col("doc_id"),
      length(cleaned).cast("long").as("clean_len"),
      md5(cleaned).as("clean_md5"))
  }

  /** Deterministic hash sample: keep a row iff
    * `h60(salt:key) mod denom < keep`. Unlike `df.sample()` (RNG-and-
    * partitioning dependent), the decision is a pure function of the key —
    * re-runs, other engines, and incremental pipelines select the SAME
    * subset, which is what corpus-curation sampling needs (train/holdout
    * splits that survive reprocessing). Map-only at any scale.
    */
  def hashSample(df: DataFrame, keyCol: String, salt: String,
                 keep: Int, denom: Int): DataFrame = {
    require(keep >= 0 && keep <= denom && denom > 0)
    df.where(pmod(h60(concat(lit(salt), lit(":"), col(keyCol))), lit(denom.toLong)) < keep)
  }

  /** Stopword statistics: occurrence count (multiset, not distinct) of the
    * combined stopword inventory and its ratio to total tokens — the
    * classic fluency signal of a quality-filtering pass (natural prose has
    * a stable stopword mass; keyword spam and boilerplate don't). Map-only.
    */
  def stopwordStats(docs: DataFrame): DataFrame = {
    val allStops = LangProfiles.flatMap(_._2).distinct
    val toks = tokens(col("text"))
    val hits = size(filter(toks, t => array_contains(
      array(allStops.map(lit): _*), t))).cast("long")
    val n = size(toks).cast("long")
    docs.select(col("doc_id"),
      n.as("n_tokens"),
      hits.as("n_stop"),
      when(n > 0, round(hits.cast("double") / n.cast("double"), 4))
        .otherwise(0.0d).as("stop_ratio"))
  }

  /** Polynomial rolling-hash fingerprint over the token stream: left fold
    * of `acc * 31 + (h60(token) mod 1000003)  (mod FpMod)`. Order-sensitive
    * (unlike a bag hash) so re-ordered text fingerprints differently;
    * portable because h60 is md5-based and FpMod is small enough that every
    * intermediate fits a signed 64-bit integer in any engine:
    * (FpMod-1)·31 + 1000002 ≈ 3.1e16 ≪ 2^63 ≈ 9.2e18 — no overflow, so
    * Spark and DuckDB fold to the same value bit-for-bit.
    */
  val FpMod = 999999999999989L // largest prime < 10^15; 31·FpMod < 2^63

  def fingerprint(docs: DataFrame): DataFrame = {
    val hashed = transform(tokens(col("text")), t => h60(t) % 1000003L)
    docs.select(col("doc_id"),
      aggregate(hashed, lit(0L),
        (acc, h) => (acc * 31L + h) % FpMod).as("fp"))
  }

  /** Redaction patterns — shared with the SQL oracle verbatim, so they are
    * deliberately limited to syntax Java regex and RE2 interpret
    * identically (no backrefs, no lookaround).
    */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val UrlRe = "https?://[^\\s]+"
  val LongNumRe = "[0-9]{6,}"

  /** PII-style redaction — the curation pass that strips emails, URLs, and
    * long digit runs before training. Map-only: emits the per-doc match
    * counts (the filter signals) and the digest of the redacted body
    * (downstream dedup keys on it) instead of re-shipping the text.
    * Replacement order (email → url → num) is fixed and mirrored in the
    * oracle.
    */
  def redact(docs: DataFrame): DataFrame = {
    val redacted = regexp_replace(regexp_replace(regexp_replace(col("text"),
      EmailRe, "<EMAIL>"), UrlRe, "<URL>"), LongNumRe, "<NUM>")
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).cast("long").as("n_urls"),
      size(regexp_extract_all(col("text"), lit(LongNumRe), lit(0))).cast("long").as("n_longnums"),
      md5(redacted).as("redacted_md5"))
  }

  /** Split each document into overlapping token windows — the
    * context-window chunking every LLM training/RAG pipeline runs before
    * tokenized packing or embedding. Window w covers tokens
    * [w·(chunk−overlap), w·(chunk−overlap)+chunk); the last window may be
    * short. Map-only: one explode per doc, bounded by doc length — no
    * shuffle, no state; at 100 TB this runs at scan speed and the output
    * partitioning follows the input's.
    */
  def chunk(docs: DataFrame, chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > overlap && overlap >= 0, "need chunkTokens > overlap >= 0")
    val stride = chunkTokens - overlap
    val lastChunk = ((size(col("tk")) - 1) / lit(stride)).cast("int")
    val sliced = slice(col("tk"), col("chunk_id") * stride + 1, lit(chunkTokens))
    docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .where(size(col("tk")) > 0)
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), lastChunk)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(sliced).cast("long").as("n_tokens"),
        array_join(sliced, " ").as("chunk_text"))
  }

  /** Repetition ratio: the fraction of a document's 3-gram shingles that
    * are duplicates of an earlier shingle in the same document —
    * `1 − distinct/total`. Boilerplate, keyword stuffing, and degenerate
    * generation loops all score high; natural prose scores near 0. Map-only
    * (the shingle set never leaves its row), so at 100 TB it runs at scan
    * speed — the standard cheap quality gate before any dedup pass.
    */
  def repetition(docs: DataFrame, shingleN: Int = 3): DataFrame = {
    val sh = shingles(tokens(col("text")), shingleN)
    docs.select(col("doc_id"), sh.as("sh"))
      .select(col("doc_id"),
        size(col("sh")).cast("long").as("n_shingles"),
        size(array_distinct(col("sh"))).cast("long").as("n_distinct"),
        when(size(col("sh")) > 0,
          round(lit(1.0d) - size(array_distinct(col("sh"))).cast("double")
            / size(col("sh")).cast("double"), 4))
          .otherwise(0.0d).as("rep_ratio"))
  }

  /** Stratified deterministic sampling: per-stratum keep rates (percent,
    * with a default for unlisted strata) over the same pure-function-of-key
    * predicate as [[hashSample]] — the corpus-MIXING primitive: up-weight
    * one language/source, down-weight another, reproducibly. Map-only (the
    * rate lookup folds into a CASE expression, no join), so at 100 TB it
    * composes with the scan like any filter; the same row set is selected
    * by any engine and any re-run.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String,
                       salt: String, ratesPct: Seq[(String, Int)],
                       defaultPct: Int): DataFrame = {
    require((defaultPct +: ratesPct.map(_._2)).forall(p => p >= 0 && p <= 100))
    val keep = ratesPct.foldRight(lit(defaultPct): Column) { case ((v, pct), acc) =>
      when(col(stratumCol) === v, lit(pct)).otherwise(acc)
    }
    df.where(pmod(h60(concat(lit(salt), lit(":"), col(keyCol))), lit(100L)) < keep)
  }

  /** BM25 relevance of every document against a fixed query-term set —
    * the retrieval scorer of a data-curation search pass (and the
    * classical IR baseline RAG pipelines rank against).
    *
    * Shape: per-doc term frequencies are MAP-ONLY columns (one
    * `size(filter(tokens))` per query term — queries are a handful of
    * terms, so this is a fixed-width projection, never an explode+shuffle);
    * corpus statistics (N, Σdl, per-term document frequencies) reduce to
    * ONE broadcast row; the final top-k is `TakeOrderedAndProject`. Net
    * cost at 100 TB: one scan + one 1-row aggregate — no token shuffle.
    * Scoring is a fixed-order double expression over exact integer inputs,
    * so an independent SQL engine reproduces it bit-for-bit (no
    * shuffle-order-dependent float sums).
    */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25FromTf(tfProjection(docs, terms).localCheckpoint(), terms, k, k1, b)

  /** [[bm25]] over an already-tokenized `(doc_id, tk)` frame — the
    * stage-once path (see [[TextStage]]). */
  def bm25Tk(tkDocs: DataFrame, terms: Seq[String], k: Int,
             k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25FromTf(tfProjectionTk(tkDocs, terms).localCheckpoint(), terms, k, k1, b)

  /** The map-only (doc_id, dl, tf_0..tf_n) projection [[bm25]] scores —
    * exposed so a caller needing BOTH the ranking and another view of the
    * same token statistics (e.g. [[ndcgAt]]'s relevance labels) can
    * materialize it ONCE and scan the corpus once, instead of once per
    * consumer. ~`(terms+2)·8` bytes per doc — checkpoint-sized at any
    * corpus scale.
    */
  def tfProjection(docs: DataFrame, terms: Seq[String]): DataFrame =
    tfProjectionTk(
      docs.select(col("doc_id"), tokens(col("text")).as("tk")), terms)

  /** [[tfProjection]] over an already-tokenized `(doc_id, tk)` frame —
    * the stage-once path (see [[TextStage]]). */
  def tfProjectionTk(tkDocs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty)
    tkDocs.select(
      col("doc_id") +: size(col("tk")).cast("long").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(col("tk"), x => x === lit(t))).cast("long").as(s"tf_$i")
        }: _*)
  }

  /** BM25 scoring over a prebuilt [[tfProjection]]. The input is read
    * twice (1-row stats aggregate + scoring scan) — pass a checkpointed /
    * cached frame so those are memory reads, not corpus re-scans.
    */
  def bm25FromTf(withTf: DataFrame, terms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val stats = withTf.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("tot") +:
        terms.indices.map(i =>
          sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i")): _*)
    val n = col("n_docs").cast("double")
    val avgdl = col("tot").cast("double") / n
    val score = terms.indices.map { i =>
      val tf = col(s"tf_$i").cast("double")
      val dfc = col(s"df_$i").cast("double")
      val idf = log((n - dfc + 0.5d) / (dfc + 0.5d) + 1.0d)
      idf * (tf * (k1 + 1.0d)) /
        (tf + lit(k1) * (lit(1.0d - b) + lit(b) * col("dl").cast("double") / avgdl))
    }.reduce(_ + _)
    withTf.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("bm25"))
      .where(col("bm25") > 0d)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Epoch up-sampling — the corpus-mixing step that REPEATS high-value
    * strata (e.g. books × 3, web × 1) to hit a target training mixture.
    * Map-only: the per-stratum repeat count folds into a CASE expression
    * and each row explodes into `repeats` epoch-tagged copies; no join, no
    * shuffle, output partitioning follows the scan. The epoch column is
    * what downstream shuffling/packing keys on so repeated copies don't
    * sit adjacent in the training stream.
    */
  def epochUpsample(df: DataFrame, stratumCol: String,
                    repeatsFor: Seq[(String, Int)], defaultRepeats: Int): DataFrame = {
    require((defaultRepeats +: repeatsFor.map(_._2)).forall(_ >= 0))
    val reps = repeatsFor.foldRight(lit(defaultRepeats): Column) { case ((v, n), acc) =>
      when(col(stratumCol) === v, lit(n)).otherwise(acc)
    }
    df.select(col("doc_id"), col(stratumCol),
        explode(sequence(lit(1), reps)).as("epoch"))
      .select(col("doc_id"), col(stratumCol), col("epoch").cast("long").as("epoch"))
  }

  /** Sequence packing — assign documents to fixed-capacity training
    * sequences (context windows), the step between corpus cleaning and
    * batch assembly. Exact greedy bin-packing is inherently sequential, so
    * the scalable form shards first: docs hash-shard on doc_id (shard
    * count ≈ cluster parallelism bounds every window's state), then within
    * a shard a running token total assigns each doc to sequence
    * `preceding_cum div capacity` — contiguous fill, at most one
    * under-filled boundary sequence per shard. ONE shuffle (on shard);
    * the window scans each shard's stream once with O(1) state. Fill
    * fraction ≥ 1 - max_doc/capacity per non-final sequence, the same
    * bound the sequential greedy gives. Oversized docs (> capacity) get a
    * sequence of their own rather than erroring — the downstream
    * truncation policy owns that decision.
    */
  def seqPack(docs: DataFrame, capacity: Long, shards: Int): DataFrame = {
    require(capacity > 0 && shards > 0)
    val base = docs.select(col("doc_id"),
      pmod(h60(concat(lit("pack:"), col("doc_id").cast("string"))),
        lit(shards.toLong)).as("shard"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("cum", sum(col("n_tokens")).over(w))
      // integral div — the fill is exact long arithmetic in any engine
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $capacity").as("seq"))
  }

  /** Top-k terms per document by TF-IDF. Two hash-aggregates (term counts
    * per doc, then document frequency FROM the already-aggregated tf — the
    * raw token stream is never re-shuffled), a shuffle join on term, and a
    * per-doc window bounded by doc length. The corpus size enters as a
    * broadcast 1-row aggregate, never a driver action. 6dp rounding before
    * ranking keeps ln() cross-engine comparable.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame =
    tfidfTopTermsTk(docs.select(col("doc_id"), tokens(col("text")).as("tk")), k)

  /** [[tfidfTopTerms]] over an already-tokenized `(doc_id, tk)` frame —
    * the stage-once path (see [[TextStage]]). */
  def tfidfTopTermsTk(tkDocs: DataFrame, k: Int): DataFrame = {
    val tok = tkDocs.select(col("doc_id"), explode(col("tk")).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = tkDocs.agg(count(lit(1)).cast("double").as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(dfq, "term")
      .crossJoin(broadcast(total))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
  }

  /** Unigram language-model surprisal per document — the model-based
    * quality signal: train a unigram LM on the corpus itself (term counts
    * over total tokens, one aggregate) and score each document by its
    * mean per-token surprisal `-ln p(term)`. Boilerplate and templated
    * text (common tokens) scores low; rare-token noise scores high —
    * the distribution's tails are what a curation pass inspects.
    *
    * Scale shape: the LM "training" is one term-keyed hash-aggregate; the
    * scoring join keys on term (tf rows, not token occurrences — each
    * (doc, term) pair once). Per-term contributions are quantized to 6 dp
    * and summed as exact DECIMALs so the doc score is independent of fold
    * order — the float-sum determinism trap of distributed scoring.
    */
  /** Pointwise-mutual-information collocations: adjacent token bigrams
    * scored by `ln(p(a,b) / (p(a) p(b)))` — high-PMI pairs are phrases
    * ("new york"), low-PMI pairs are coincidences; the collocation-mining
    * pass of corpus analysis.
    *
    * Scale shape: bigram and unigram counting are map-only explodes into
    * hash-aggregates (map-side combined); the `minCount` filter cuts the
    * candidate set BEFORE the two unigram-count joins, and the totals ride
    * along as broadcast one-row tables. PMI from integer counts rounds at
    * 6 dp after a fixed expression order — engine-portable like the
    * TF-IDF scoring above.
    */
  def pmiBigrams(docs: DataFrame, minCount: Int): DataFrame =
    pmiBigramsTk(docs.select(tokens(col("text")).as("tk")), minCount)

  /** [[pmiBigrams]] over an already-tokenized `tk` frame — the stage-once
    * path (see [[TextStage]]). */
  def pmiBigramsTk(tkDocs: DataFrame, minCount: Int): DataFrame = {
    val toks = tkDocs.select(col("tk"))
    val pairs = toks.select(explode(expr(
        "CASE WHEN size(tk) >= 2 THEN transform(sequence(0, size(tk)-2), i -> struct(tk[i] AS a, tk[i+1] AS b)) ELSE array() END"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // Both count tables reduce ONCE and are checkpointed: every
    // downstream consumer (the minCount filter, the two marginal joins,
    // the two total-mass rows) reads the reduced vocabulary-sized frames
    // — without this each consumer re-derived its input from the corpus,
    // for FIVE full scans + re-tokenizations where two suffice (one per
    // explode shape; the bigram total is the exact sum of the bigram
    // counts, so it needs no corpus pass of its own).
    val cabAll = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      .localCheckpoint()
    val cab = cabAll.where(col("cab") >= minCount)
    val uni = toks.select(explode(col("tk")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val nBig = cabAll.agg(sum(col("cab")).cast("double").as("nb"))
    val nUni = uni.agg(sum(col("c")).cast("double").as("nu"))
    cab
      .join(uni.select(col("t").as("a"), col("c").as("ca")), "a")
      .join(uni.select(col("t").as("b"), col("c").as("cb")), "b")
      .crossJoin(broadcast(nBig)).crossJoin(broadcast(nUni))
      .select(col("a"), col("b"), col("cab"),
        round(log((col("cab") / col("nb")) /
          ((col("ca") / col("nu")) * (col("cb") / col("nu")))), 6).as("pmi"))
  }

  /** Pretraining source-mixture weights: each source's token share of the
    * corpus, smoothed with a square-root temperature (share^(1/2), the
    * standard upsample-the-tail reweighting) and renormalized to sum to 1.
    *
    * Two aggregates over |sources| rows — the per-source token counts
    * (map-side combined, one shuffle of O(tasks × sources) rows) and the
    * one-row totals, both broadcast back. Determinism across engines: the
    * share is a double division of exact longs, the smoothed weights are
    * quantized to DECIMAL(18,15) so the renormalization DENOMINATOR is an
    * exact order-free sum (a double sum would depend on reduce order),
    * and the final weight is one double division, rounded to 6dp.
    */
  def sourceMix(docs: DataFrame): DataFrame = {
    val dec15 = org.apache.spark.sql.types.DecimalType(18, 15)
    val g = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
    // The totals are unpartitioned window sums over the ALREADY-REDUCED
    // per-source rows (|sources| of them — a one-partition window here is
    // O(sources), not O(corpus)); the alternative, joining g against
    // agg(g), recomputes the corpus aggregate once per branch.
    val all = Window.partitionBy()
    g.withColumn("share",
        col("n_tokens").cast("double") /
          sum(col("n_tokens")).over(all).cast("double"))
      .withColumn("w", sqrt(col("share")).cast(dec15))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("share"), 6).as("share"),
        round(col("w").cast("double") /
          sum(col("w")).over(all).cast("double"), 6).as("mix_weight"))
  }

  /** Epoch planning under temperature sampling: each source's share of a
    * training epoch when source probabilities are flattened with a
    * QUARTER-power temperature, p_i ∝ n_i^0.25 — the heavy-tail
    * reweighting multilingual pretraining uses to keep low-resource
    * sources from vanishing (α≈0.2–0.3 in the published recipes). Where
    * [[sourceMix]] reports token-share weights at α=1/2, this op plans
    * DOC counts for a concrete epoch budget: expected docs drawn per
    * source and the implied per-source sampling boost (draws per held
    * doc — >1 means upsampling).
    *
    * One |sources|-row aggregate off a single corpus scan; the totals are
    * unpartitioned window sums over the reduced rows (O(sources), never
    * O(corpus)). Determinism across engines: n^0.25 is computed as
    * sqrt(sqrt(n)) — sqrt is IEEE-754 correctly rounded EVERYWHERE, while
    * `pow` is not (Java's Math.pow is only 1-ulp accurate), so the
    * composed form is the bit-replayable spelling of the quarter power —
    * then quantized to DECIMAL(18,15) so the renormalization denominator
    * is an exact order-free sum. Expected docs round via floor(x + 0.5)
    * (half-even `round` differs between engines on exact halves).
    */
  def temperatureMix(docs: DataFrame, epochDocs: Long): DataFrame = {
    val dec15 = org.apache.spark.sql.types.DecimalType(18, 15)
    val all = Window.partitionBy()
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", sqrt(sqrt(col("n_docs").cast("double"))).cast(dec15))
      .withColumn("p", col("w").cast("double") /
        sum(col("w")).over(all).cast("double"))
      .withColumn("expected_docs",
        floor(lit(epochDocs.toDouble) * col("p") + lit(0.5)).cast("long"))
      .select(col("source"), col("n_docs"),
        round(col("p"), 6).as("mix_weight"),
        col("expected_docs"),
        round(col("expected_docs").cast("double") /
          col("n_docs").cast("double"), 4).as("boost"))
  }

  /** Tokenizer-vocabulary build: the `k` highest-count corpus tokens with
    * their ranks. One token-keyed hash-aggregate (map-side combined), then
    * `orderBy(...).limit(k)` — Spark's `TakeOrderedAndProject`, a bounded
    * heap per partition — so only k rows per task ever move; the
    * rank window runs over the already-k-row result, not the corpus.
    */
  def vocabTopK(docs: DataFrame, k: Int): DataFrame =
    vocabTopKTk(docs.select(tokens(col("text")).as("tk")), k)

  /** [[vocabTopK]] over an already-tokenized `tk` frame — the stage-once
    * path (see [[TextStage]]). */
  def vocabTopKTk(tkDocs: DataFrame, k: Int): DataFrame = {
    val counts = tkDocs.select(explode(col("tk")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    counts.orderBy(col("cnt").desc, col("term").asc).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("term").asc)).cast("long"))
      .select(col("rank"), col("term"), col("cnt"))
  }

  /** Zipf-law fit of the corpus token-frequency curve: OLS slope and
    * intercept of ln(count) against ln(rank) over the top-`k` tokens —
    * the one-number power-law health check of a tokenizer vocabulary
    * (natural text sits near slope −1; a slope far off flags boilerplate
    * floods or degenerate tokenization).
    *
    * Scale shape: the only corpus-sized work is [[vocabTopK]]'s single
    * term aggregate + bounded-heap top-k; the regression itself runs over
    * k rows. The normal equations are written out explicitly (n·Σxy −
    * ΣxΣy over n·Σx² − (Σx)²) instead of `regr_slope` so any engine
    * computes the identical formula; rounding to 6 dp absorbs summation-
    * order noise on the k-term sums.
    */
  def zipfFit(docs: DataFrame, k: Int): DataFrame =
    zipfFitTk(docs.select(tokens(col("text")).as("tk")), k)

  /** [[zipfFit]] over an already-tokenized `tk` frame — the stage-once
    * path (see [[TextStage]]). */
  def zipfFitTk(tkDocs: DataFrame, k: Int): DataFrame = {
    val xy = vocabTopKTk(tkDocs, k).select(
      log(col("rank").cast("double")).as("x"),
      log(col("cnt").cast("double")).as("y"))
    xy.agg(count(lit(1)).cast("double").as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n"), col("sx"), col("sy"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope_raw"))
      .select(col("n").cast("long").as("n_terms"),
        round(col("slope_raw"), 6).as("slope"),
        round((col("sy") - col("slope_raw") * col("sx")) / col("n"), 6)
          .as("intercept"))
  }

  /** NDCG@`k` of the [[bm25]] ranking against a GRADED term-frequency
    * relevance label (rel(doc) = total query-term occurrences, capped at
    * 4) — the standard offline retrieval-quality gauge, using a label
    * that is deterministic and engine-portable rather than human
    * judgments. The grade must be finer than term PRESENCE, and the gain
    * LINEAR (the classic Järvelin DCG, gain = rel): with a binary label
    * — or any label the top-k saturates (a capped grade saturates the
    * same way on a corpus where query terms are common) — every ranked
    * document ties at max relevance, DCG ≡ IDCG, and the probe reads 1.0
    * forever regardless of ranking quality (the round-10 `sparse_recall`
    * vacuity trap — caught for this probe in round 11's audit). With
    * uncapped tf grades, BM25's length normalization genuinely disagrees
    * with the raw-tf ideal somewhere, so the value moves when the
    * ranking does; `ProbeVacuitySpec` pins ndcg < 1 on the fixture.
    *
    * Scale shape: ONE corpus scan — the [[tfProjection]] is checkpointed
    * and both the ranking and the relevance labels derive from it; the
    * ranked list is k rows and is BROADCAST into the relevance leg for
    * its labels (the corpus never shuffles); the ideal-DCG leg is a
    * bounded-heap top-k over the same checkpointed projection. Gains use the graded
    * form (2^rel − 1) and positions discount by ln(pos+1)/ln 2, written
    * identically in the SQL oracle.
    */
  def ndcgAt(docs: DataFrame, terms: Seq[String], k: Int,
             k1: Double = 1.2, b: Double = 0.75): DataFrame =
    ndcgAtTk(docs.select(col("doc_id"), tokens(col("text")).as("tk")),
      terms, k, k1, b)

  /** [[ndcgAt]] over an already-tokenized `(doc_id, tk)` frame — the
    * stage-once path (see [[TextStage]]). */
  def ndcgAtTk(tkDocs: DataFrame, terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // ONE corpus scan: the checkpointed tf projection feeds the bm25
    // ranking AND the relevance labels (rel = total query-term
    // occurrences — the tf columns already hold them).
    val withTf = tfProjectionTk(tkDocs, terms).localCheckpoint()
    val rel = withTf.select(col("doc_id"),
      terms.indices.map(i => col(s"tf_$i").cast("long")).reduce(_ + _)
        .as("rel"))
    def gain(pos: Column, r: Column): Column =
      r.cast("double") / (log(pos.cast("double") + 1.0d) / log(lit(2.0d)))
    val ranked = bm25FromTf(withTf, terms, k, k1, b)
      .withColumn("pos", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
    val dcg = rel.join(broadcast(ranked), "doc_id")
      .agg(sum(gain(col("pos"), col("rel"))).as("dcg"))
    val ideal = rel.orderBy(col("rel").desc, col("doc_id")).limit(k)
      .withColumn("pos", row_number().over(
        Window.orderBy(col("rel").desc, col("doc_id"))).cast("long"))
      .agg(sum(gain(col("pos"), col("rel"))).as("idcg"))
    dcg.crossJoin(ideal).select(
      round(col("dcg"), 6).as("dcg"), round(col("idcg"), 6).as("idcg"),
      round(when(col("idcg") > 0d, col("dcg") / col("idcg")).otherwise(0d), 6)
        .as("ndcg"))
  }

  /** Distributed inverted-index build: term → document frequency + a
    * BOUNDED posting list (the `maxPostings` lowest doc_ids, ascending).
    *
    * Per-doc term dedup happens map-side (`array_distinct` before the
    * explode — no (doc, term) shuffle), so the single term-keyed aggregate
    * is the only exchange. The posting list uses the bounded-heap
    * `topk_by_score` aggregate (score = −doc_id), NOT `collect_list`: a
    * stopword's posting accumulator would otherwise hold every matching
    * doc_id in memory — the classic index-build OOM at corpus scale. df
    * stays exact alongside the capped postings. Doc ids must stay below
    * 2^53 (score travels as double); the corpus generator's ids do.
    */
  def invertedIndex(docs: DataFrame, minDf: Long = 5,
                    maxPostings: Int = 20): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        expr(s"topk_by_score(cast(-doc_id as double), doc_id, $maxPostings)")
          .as("top"))
      .where(col("df") >= minDf)
      .select(col("term"), col("df"),
        array_join(expr("transform(top, x -> x.nbr_id)"), ",").as("postings"))
  }

  /** Weighted sampling without replacement (the A-ES / exponential-sort
    * scheme): each row draws a deterministic uniform `u` from its key and
    * wins iff its exponential variate `-ln(u) / w` lands among the `k`
    * smallest — the classic one-pass distributed weighted reservoir, here
    * with the RNG replaced by the engine's portable hash so the SAME rows
    * win in any engine and any re-run (importance-weighted corpus
    * subsampling needs that reproducibility).
    *
    * Scale shape: the variate is a map-only projection; selection is
    * `orderBy(...).limit(k)` — Spark's `TakeOrderedAndProject`, a bounded
    * heap per task, so only k rows per task ever reach the driver-side
    * merge. No shuffle of the corpus at any size. Determinism across
    * engines: `u` is an exact dyadic rational (20-bit hash / 2^20), and
    * `-ln(u)` is rounded to 6 dp BEFORE the IEEE division by the exact
    * integer weight — the one libm call is quantized away, everything
    * else is bit-exact.
    */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     salt: String, k: Int): DataFrame = {
    val m = 1L << 20
    val u = (pmod(h60(concat(lit(salt), lit(":"), col(keyCol).cast("string"))),
      lit(m)) + lit(1L)).cast("double") / lit(m.toDouble)
    df.where(col(weightCol) > 0)
      .select(col(keyCol), col(weightCol).cast("long").as("weight"),
        (round(-log(u), 6) / col(weightCol).cast("double")).as("samp_key"))
      .orderBy(col("samp_key"), col(keyCol))
      .limit(k)
  }

  /** Substring-level duplication signal (the exact-substring-dedup
    * statistic of Lee et al.'s "Deduplicating Training Data" pass): the
    * fraction of a document's n-gram positions whose n-gram also appears
    * in ANOTHER document. Docs with a high `dup_frac` are near-copies or
    * heavy boilerplate carriers even when no single whole-doc hash matches.
    *
    * Scale shape: n-grams leave their rows only as 8-byte `h60` digests
    * (the shuffle carries hashes, never 8-token strings); the multi-doc
    * gram set comes from a (doc, gram)-distinct then gram-keyed count —
    * two hash-aggregates sharing the gram partitioning — and the position
    * count re-joins on the same gram key. Docs shorter than n tokens have
    * no positions and drop out (mirrored by the oracle).
    */
  def dupSpans(docs: DataFrame, n: Int = 8): DataFrame = {
    val g = docs.select(col("doc_id"),
      explode(shingles(tokens(col("text")), n)).as("gram"))
      .select(col("doc_id"), h60(col("gram")).as("g"))
    val multi = g.distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("nd"))
      .where(col("nd") > 1)
      .select(col("g"))
    val perDoc = g.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val dup = g.join(multi, "g")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    perDoc.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double")
          / col("n_grams").cast("double"), 4).as("dup_frac"))
  }

  /** Reciprocal-rank fusion of two ranked retrieval lists — the standard
    * hybrid-search combiner (lexical BM25 + a second ranker merged as
    * `Σ 1/(c + rank)`), robust to incomparable score scales because only
    * ranks enter. Inputs are (doc_id, rank) frames of at most a few
    * hundred rows (each ranker's top pool), so the fusion join is
    * broadcast-sized no matter the corpus — all the heavy lifting
    * happened inside the rankers. A doc absent from one list simply
    * contributes nothing from it (full outer join + coalesce).
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c: Int = 60): DataFrame = {
    val ra = a.select(col("doc_id"), col("rank").as("rank_a"))
    val rb = b.select(col("doc_id"), col("rank").as("rank_b"))
    ra.join(rb, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        // c + rank stays exact integer arithmetic; the single double
        // division per leg is IEEE-identical in any engine
        round(coalesce(lit(1.0d) / (lit(c.toLong) + col("rank_a")), lit(0.0d))
          + coalesce(lit(1.0d) / (lit(c.toLong) + col("rank_b")), lit(0.0d)), 9)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-source Shannon entropy of the token distribution — the
    * diversity signal of a corpus-mixing pass: low-entropy sources are
    * templated/boilerplate-heavy, high-entropy sources carry varied
    * text. `H(source) = −Σ_t p_t ln p_t` with `p_t = c_t / total`.
    *
    * Shape: one (source, term) hash-aggregate (map-side combined), the
    * per-source totals reduced FROM those counts (the token stream is
    * scanned once), a join back on source (|sources| keys), and a final
    * per-source sum. Per-term contributions are 9-dp-quantized and
    * summed as exact decimals so the entropy is fold-order-free.
    */
  def sourceEntropy(docs: DataFrame): DataFrame =
    sourceEntropyTk(docs.select(col("source"), tokens(col("text")).as("tk")))

  /** [[sourceEntropy]] over an already-tokenized `(source, tk)` frame —
    * the stage-once path (see [[TextStage]]). */
  def sourceEntropyTk(tkDocs: DataFrame): DataFrame = {
    val dec9 = org.apache.spark.sql.types.DecimalType(28, 9)
    val tok = tkDocs.select(col("source"), explode(col("tk")).as("term"))
    val tc = tok.groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
    val tot = tc.groupBy(col("source")).agg(sum(col("c")).as("tot"))
    val p = col("c").cast("double") / col("tot")
    tc.join(tot, "source")
      .select(col("source"), col("tot"),
        round(p * -log(p), 9).cast(dec9).as("h"))
      .groupBy(col("source"))
      .agg(max(col("tot")).as("n_tokens"), sum(col("h")).as("hs"))
      .select(col("source"), col("n_tokens"),
        round(col("hs").cast("double"), 6).as("entropy"))
  }

  /** Per-document mean bigram surprisal `−ln p(w₂|w₁)` under the corpus
    * bigram LM (`p(w₂|w₁) = c(w₁,w₂) / c(w₁,·)`, maximum likelihood over
    * the corpus' own bigram stream) — the context-sensitive upgrade of
    * [[unigramSurprisal]]: repetitive/templated text scores near zero,
    * incoherent token soup scores high even when each token is common.
    * The classic KenLM-style quality gate, restated engine-portably.
    *
    * Shape: one bigram explode feeds all three aggregates (per-doc tf,
    * corpus bigram counts, prefix counts), each map-side combined; the two
    * count joins run on the REDUCED bigram vocabulary, not the stream.
    * Determinism: per-bigram surprisal is 6dp-quantized to DECIMAL before
    * the tf-weighted sum, so accumulation order cannot perturb the mean
    * (same contract as the unigram scorer). Documents with fewer than two
    * tokens have no bigrams and drop out.
    */
  def bigramSurprisal(docs: DataFrame): DataFrame =
    bigramSurprisalTk(docs.select(col("doc_id"), tokens(col("text")).as("tk")))

  /** The decimal sum `s` over the count `n` as a double, rounded to 6
    * places the way SQL engines round a double: scale by 10^6, round half
    * away from zero, scale back. Spark's `round(x, 6)` instead rounds the
    * shortest decimal string of `x`, which can sit on the other side of a
    * 7th-decimal tie than `x · 10^6` (179.351158 / 28 = 6.4053984999999996:
    * `round` gives 6.405398, the scaled form 6.405399).
    */
  private[graft] def mean6(s: Column, n: Column): Column =
    round(s.cast("double") / n * 1e6, 0) / 1e6

  /** [[bigramSurprisal]] over an ALREADY-tokenized `(doc_id, tk)` frame —
    * the stage-once path (see [[TextStage]]): all three aggregates read
    * pre-split token arrays, the regex tokenizer never runs here.
    */
  def bigramSurprisalTk(tkDocs: DataFrame): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val big = tkDocs
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(tk) >= 2 THEN transform(sequence(0, size(tk)-2), i -> concat_ws(' ', tk[i], tk[i+1])) ELSE array() END"))
        .as("bg"))
    val tf = big.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("tf"))
    val cab = big.groupBy(col("bg")).agg(count(lit(1)).as("cab"))
    val cw = big.select(split(col("bg"), " ").getItem(0).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("cw"))
    tf.join(cab, "bg")
      .join(cw, split(col("bg"), " ").getItem(0) === col("w1"))
      .select(col("doc_id"), col("tf"),
        (col("tf") * round(-log(col("cab").cast("double") / col("cw").cast("double")), 6)
          .cast(dec6)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"), sum(col("c")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        mean6(col("s"), col("n_bigrams")).as("avg_surprisal"))
  }

  /** Distribution-shift monitor: Jensen–Shannon divergence of each
    * source's term distribution against the whole corpus — the
    * "did this feed drift?" check run before a source is re-weighted or
    * re-crawled. JS (unlike KL) is finite, symmetric and bounded by ln 2,
    * so one number per source is comparable across sources and rounds.
    *
    * The sum over terms ABSENT from a source is closed-form —
    * Σ_{t∉S} q·ln(q/(q/2)) = ln 2 · (1 − Σ_{t∈S} q) — so only
    * (source, term) pairs that actually occur ever materialize: no
    * vocab × sources blow-up, no outer join against the vocabulary.
    *
    * ONE corpus scan builds the (source, term) count frame (map-side
    * combined, checkpointed — its four consumers re-aggregate the
    * REDUCED frame, never the stream); per-term contributions quantize
    * to 9-dp decimals before the per-source sums (fold-order-free, the
    * [[sourceEntropy]] contract). Output: `(source, n_terms, js)`.
    */
  def sourceDivergence(docs: DataFrame): DataFrame =
    sourceDivergenceTk(
      docs.select(col("source"), tokens(col("text")).as("tk")))

  /** [[sourceDivergence]] over an already-tokenized `(source, tk)` frame
    * — the stage-once path (see [[TextStage]]). */
  def sourceDivergenceTk(tkDocs: DataFrame): DataFrame = {
    val dec9 = org.apache.spark.sql.types.DecimalType(28, 9)
    val st = tkDocs.select(col("source"), explode(col("tk")).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cst"))
      .localCheckpoint() // reduced (source × present-term) frame, read 4×
    val ts = st.groupBy(col("source")).agg(sum(col("cst")).as("ts"))
    val ct = st.groupBy(col("term")).agg(sum(col("cst")).as("ct"))
    val tot = st.agg(sum(col("cst")).cast("double").as("tot"))
    val p = col("cst").cast("double") / col("ts").cast("double")
    val q = col("ct").cast("double") / col("tot")
    val m = (p + q) / lit(2.0d)
    val perSource = st.join(ts, "source").join(ct, "term")
      .crossJoin(broadcast(tot))
      .select(col("source"),
        round(p * log(p / m) + q * log(q / m), 9).cast(dec9).as("contrib"),
        round(q, 9).cast(dec9).as("qr"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib")).as("s"),
        sum(col("qr")).as("qcov"))
    val halfLnTwo = 0.5d * math.log(2.0d)
    perSource.select(col("source"), col("n_terms"),
      round(lit(0.5d) * col("s").cast("double")
        + lit(halfLnTwo) * (lit(1.0d) - col("qcov").cast("double")), 6).as("js"))
  }

  /** Per-document PERPLEXITY under an interpolated bigram LM —
    * p̂(w₂|w₁) = λ·c(w₁w₂)/c(w₁·) + (1−λ)·c(w₂)/T — with a corpus-level
    * outlier gate (ppl > mean + 2σ): the CCNet-style perplexity filter,
    * the single most standard LLM-corpus quality gate, here with the LM
    * trained on the corpus' own token stream (interpolation playing the
    * role of backoff so unseen-prefix bigrams never hit a zero).
    *
    * Shape: one LM-training leg per aggregate — tf / c(w₁w₂) / c(w₁·)
    * on the bigram stream plus c(w₂) / T on the token stream. The
    * production path is [[docPerplexityTk]] over a [[TextStage]]-staged
    * tokenized frame (the tokenizer runs ONCE, at staging time; the five
    * aggregates read pre-split columnar arrays); this text-input wrapper
    * tokenizes inline per aggregate and exists for ad-hoc use. Every
    * aggregate is map-side combined so the count joins run on REDUCED
    * vocabularies, never the stream; the 1-row token total broadcasts.
    * Per-bigram surprisals quantize to 6-dp decimals before
    * the tf-weighted sum (fold-order-free), and the per-doc frame is
    * checkpointed before its two consumers (the output rows and the
    * 1-row mean/σ stats broadcast), so the LM never re-trains behind the
    * second consumer. Docs with < 2 tokens have no bigrams and drop out.
    *
    * Output: `(doc_id, n_bigrams, ppl, flagged)`, `flagged` decided on
    * the 6-dp ppl against the 6-dp-rounded mean + 2σ threshold — no
    * last-ulp strandling in any engine.
    */
  def docPerplexity(docs: DataFrame, lambda: Double = 0.75): DataFrame =
    docPerplexityTk(
      docs.select(col("doc_id"), tokens(col("text")).as("tk")), lambda)

  /** [[docPerplexity]] over an already-tokenized `(doc_id, tk)` frame —
    * the stage-once path the original docstring called for (see
    * [[TextStage]]): all five LM aggregates read pre-split token arrays;
    * the tokenizer ran once at staging time, not five times here.
    */
  def docPerplexityTk(tkDocs: DataFrame, lambda: Double = 0.75): DataFrame = {
    require(lambda > 0 && lambda < 1, "interpolation weight in (0,1)")
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val big = tkDocs
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(tk) >= 2 THEN transform(sequence(0, size(tk)-2), i -> concat_ws(' ', tk[i], tk[i+1])) ELSE array() END"))
        .as("bg"))
    val tf = big.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("tf"))
    val cab = big.groupBy(col("bg")).agg(count(lit(1)).as("cab"))
    val cw = big.select(split(col("bg"), " ").getItem(0).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("cw"))
    val tok = tkDocs.select(explode(col("tk")).as("term"))
    val cu = tok.groupBy(col("term")).agg(count(lit(1)).as("cu"))
    val tot = tok.agg(count(lit(1)).cast("double").as("tot"))
    val p = lit(lambda) * (col("cab").cast("double") / col("cw").cast("double")) +
      lit(1 - lambda) * (col("cu").cast("double") / col("tot"))
    val perDoc = tf.join(cab, "bg")
      .join(cw, split(col("bg"), " ").getItem(0) === col("w1"))
      .join(cu, split(col("bg"), " ").getItem(1) === col("term"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("tf"),
        (col("tf") * round(-log(p), 6).cast(dec6)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"), sum(col("c")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(exp(col("s").cast("double") / col("n_bigrams")), 6).as("ppl"))
      .localCheckpoint() // O(docs) rows; read by the stats leg AND the output
    val stats = perDoc
      .select(col("ppl").cast(dec6).as("v"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("v") * col("v")).as("sv2"))
      .select(round(col("sv").cast("double") / col("n"), 6).as("mean_ppl"),
        round(sqrt(greatest(lit(0.0d),
          (col("sv2").cast("double") -
            col("sv").cast("double") * col("sv").cast("double") / col("n"))
            / col("n"))), 6).as("std_ppl"))
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("n_bigrams"), col("ppl"),
        (col("ppl") > col("mean_ppl") + lit(2.0d) * col("std_ppl")).as("flagged"))
  }

  def unigramSurprisal(docs: DataFrame): DataFrame =
    unigramSurprisalTk(
      docs.select(col("doc_id"), tokens(col("text")).as("tk")))

  /** [[unigramSurprisal]] over an already-tokenized `(doc_id, tk)` frame
    * — the stage-once path (see [[TextStage]]). */
  def unigramSurprisalTk(tkDocs: DataFrame): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val tok = tkDocs.select(col("doc_id"), explode(col("tk")).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val tc = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = tok.agg(count(lit(1)).cast("double").as("tot"))
    tf.join(tc, "term")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("tf"),
        (col("tf") * round(-log(col("cnt") / col("tot")), 6).cast(dec6)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"), sum(col("c")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        mean6(col("s"), col("n_tokens")).as("avg_surprisal"))
  }

  /** Exact corpus heavy hitters in two bounded passes — the scale-honest
    * alternative to `groupBy(term).count.filter`, whose shuffle carries
    * EVERY distinct term (a 100 TB corpus has billions):
    *
    *  1. sketch pass: the native `misra_gries(term, k)` aggregate reduces
    *     each map task to one ≤ k-entry summary (O(k·tasks) shuffled, one
    *     result row). Any term with true count > n/k is guaranteed among
    *     the candidates, so with threshold max(minCount, ceil(n/k)) the
    *     candidate set is a SUPERSET of the answer;
    *  2. exact pass: re-scan, broadcast-join the ≤ k candidates, count
    *     exactly — the shuffle now carries at most k distinct keys.
    *
    * The output is exact counts and thus independent of sketch internals
    * (partition merge order can change WHICH extra candidates appear, never
    * whether a true heavy hitter does) — that invariance is what makes a
    * sketch-accelerated query oracle-checkable against plain SQL.
    */
  def heavyHitters(docs: DataFrame, k: Int = 4096, minCount: Long = 150): DataFrame =
    heavyHitterTerms(
      docs.select(explode(tokens(col("text"))).as("term")), k, minCount)

  /** The two-pass core over an already-tokenized `term` column — see
    * [[heavyHitters]]. Separate entry point so large-scale callers
    * (e.g. `graft.Scale hh`) can feed any term stream.
    */
  def heavyHitterTerms(toks: DataFrame, k: Int, minCount: Long): DataFrame = {
    GraftFunctions.register(toks.sparkSession)
    val sketch = toks.agg(
      expr(s"misra_gries(term, $k)").as("cand"),
      count(lit(1)).as("n_total"))
    val cands = sketch
      .select(explode(col("cand")).as("c"), col("n_total"))
      .select(col("c.item").as("term"), col("n_total"))
    toks.join(broadcast(cands), "term")
      .groupBy(col("term"), col("n_total"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > greatest(lit(minCount),
        ceil(col("n_total").cast("double") / k).cast("long")))
      .select(col("term"), col("cnt"))
  }

  /** Per-source heavy hitters — the "per-domain vocabulary" pass of a
    * corpus report, via the same two-pass shape as [[heavyHitters]] but
    * GROUPED: pass 1 keeps one independent ≤ k-entry `misra_gries`
    * summary per source (grouped partial aggregation — sources × k rows
    * shuffle, never sources × vocabulary), pass 2 exact-counts only the
    * broadcast (source, term) candidates. Per-group thresholds are
    * max(minCount, ceil(n_source/k)), so each group's output is exact by
    * the same superset guarantee, independent of every other group's
    * volume — a skewed giant source cannot mask another source's heavy
    * terms.
    */
  def heavyHittersBySource(docs: DataFrame, k: Int = 4096,
                           minCount: Long = 50): DataFrame =
    heavyHittersBySourceTk(
      docs.select(col("source"), tokens(col("text")).as("tk")), k, minCount)

  /** [[heavyHittersBySource]] over an already-tokenized `(source, tk)`
    * frame — the stage-once path (see [[TextStage]]): both the sketch
    * pass and the exact pass read pre-split arrays. */
  def heavyHittersBySourceTk(tkDocs: DataFrame, k: Int = 4096,
                             minCount: Long = 50): DataFrame = {
    GraftFunctions.register(tkDocs.sparkSession)
    def toks = tkDocs.select(col("source"), explode(col("tk")).as("term"))
    val sketch = toks.groupBy(col("source")).agg(
      expr(s"misra_gries(term, $k)").as("cand"),
      count(lit(1)).as("n_source"))
    exactBySourceFromSketch(toks, sketch, k, minCount)
  }

  /** The exact pass-2 of [[heavyHittersBySource]], split out so the
    * STREAMING sketch pass
    * ([[graft.streaming.StreamOps.streamHeavyHittersBySource]]) can reuse
    * it verbatim: `sketch` is one (source, cand: array<struct>, n_source)
    * row per source — from a batch aggregate or a complete-mode streaming
    * state store, the exact-count semantics are identical. Broadcasts the
    * ≤ sources×k candidates; per-group threshold max(minCount,
    * ceil(n_source/k)) keeps the output exact by the Misra-Gries superset
    * guarantee.
    */
  private[graft] def exactBySourceFromSketch(toks: DataFrame, sketch: DataFrame,
                                             k: Int, minCount: Long): DataFrame = {
    val cands = sketch
      .select(col("source"), explode(col("cand")).as("c"), col("n_source"))
      .select(col("source"), col("c.item").as("term"), col("n_source"))
    toks.join(broadcast(cands), Seq("source", "term"))
      .groupBy(col("source"), col("term"), col("n_source"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > greatest(lit(minCount),
        ceil(col("n_source").cast("double") / k).cast("long")))
      .select(col("source"), col("term"), col("cnt"))
  }

  /** Byte-pair-encoding TRAINING: `merges` greedy rounds of "merge the
    * most frequent adjacent symbol pair", the loop whose single count
    * phase the `bpe_pairs` query verifies. Output is the learned merge
    * list `(merge_rank, lhs, rhs, pair_count)` — the artifact a tokenizer
    * ships — with ties broken deterministically (highest count, then
    * lexicographically smallest pair).
    *
    * Scale shape of the LOOP:
    *  - the corpus is scanned ONCE, to reduce it to the token vocabulary
    *    with counts; every round then runs over the checkpointed VOCAB
    *    frame (O(|vocab|) rows), never the corpus — pair statistics are
    *    count-weighted per vocabulary word, the standard BPE trick;
    *  - each word is carried as a space-delimited symbol string
    *    (`" h e l l o "`); a merge is ONE literal `replace` of
    *    `" lhs rhs "` with `" lhsrhs "` — left-to-right non-overlapping
    *    in every engine, which IS greedy BPE application, and boundary
    *    spaces make matches align to whole symbols only;
    *  - per-round driver traffic is the 1-row argmax
    *    (TakeOrderedAndProject — bounded heap, no full sort); the new
    *    vocab checkpoints and the previous round's blocks are freed, so
    *    state is O(|vocab|) regardless of round count;
    *  - the merge list accumulates driver-side (O(merges) rows) and the
    *    returned frame is built from it directly — no recompute on
    *    action.
    *
    * Stops early when no multi-symbol word remains (merge list is then
    * shorter than `merges`). Bit-replayable by an unrolled SQL CTE chain:
    * every round is count → argmax → literal replace, all integer/string
    * ops.
    */
  def bpeLearn(docs: DataFrame, merges: Int,
               textCol: String = "text"): DataFrame = {
    val (learned, vocab) = bpeLearnLoop(docs, merges, textCol)
    graft.spark.CheckpointUtil.unpersistCheckpointed(vocab)
    learned
  }

  /** The loop behind [[bpeLearn]], also returning the final vocabulary
    * frame `(tok, s, n)` — each token with its trained segmentation as
    * the boundary-delimited symbol string. The caller owns the returned
    * checkpoint (unpersist when done).
    */
  def bpeLearnLoop(docs: DataFrame, merges: Int,
                   textCol: String = "text"): (DataFrame, DataFrame) =
    bpeLearnLoopTk(docs.select(tokens(col(textCol)).as("tk")), merges)

  /** [[bpeLearnLoop]] over an already-tokenized `tk` frame — the
    * stage-once path (see [[TextStage]]). */
  def bpeLearnLoopTk(tkDocs: DataFrame, merges: Int): (DataFrame, DataFrame) = {
    require(merges >= 1, "need at least one merge round")
    val spark = tkDocs.sparkSession
    import spark.implicits._
    // THE one corpus scan: token vocabulary with counts, then each word
    // as a boundary-delimited symbol string over single characters.
    var vocab = tkDocs
      .select(explode(col("tk")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .select(col("tok"),
        concat(lit(" "), regexp_replace(col("tok"), "(.)", "$1 ")).as("s"),
        col("n"))
      .localCheckpoint()
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var round = 0
    var exhausted = false
    while (round < merges && !exhausted) {
      val sy = filter(split(col("s"), " "), x => x =!= lit(""))
      val top = vocab.select(sy.as("sy"), col("n"))
        .where(size(col("sy")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("sy")) - 1),
          i => concat(element_at(col("sy"), i), lit(" "),
            element_at(col("sy"), i + 1)))).as("pr"), col("n"))
        .groupBy(col("pr")).agg(sum(col("n")).as("total"))
        .orderBy(col("total").desc, col("pr"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val Array(l, r) = top(0).getString(0).split(" ", 2)
        round += 1
        learned += ((round.toLong, l, r, top(0).getLong(1)))
        // tokens() output is [a-z0-9]+ so the symbols are literal-safe
        val next = vocab
          .withColumn("s", expr(s"replace(s, ' $l $r ', ' $l$r ')"))
          .localCheckpoint()
        graft.spark.CheckpointUtil.unpersistCheckpointed(vocab)
        vocab = next
      }
    }
    (learned.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count"), vocab)
  }

  /** BPE APPLY — the companion of [[bpeLearn]]: segment the corpus with
    * the trained merges and report per-source tokenizer FERTILITY
    * (subword symbols per word token), the statistic a tokenizer is
    * judged by per language/domain before training on the mix.
    *
    * Scale shape: training reduces the corpus to the vocabulary once
    * (see [[bpeLearnLoop]]); application never re-segments text — the
    * corpus token stream joins the (tok → symbol count) table by key.
    * The vocabulary follows a power law, so at corpus scale the mapping
    * is broadcast-sized after Catalyst prunes it to the two join columns;
    * the per-source aggregate is map-side combined. One corpus scan for
    * training, one for application.
    */
  def bpeFertility(docs: DataFrame, merges: Int,
                   textCol: String = "text",
                   sourceCol: String = "source"): DataFrame = {
    val (_, vocab) = bpeLearnLoop(docs, merges, textCol)
    bpeFertilityFromVocab(
      docs.select(col(sourceCol), tokens(col(textCol)).as("tk")), vocab,
      sourceCol)
  }

  /** The APPLY half of [[bpeFertility]], over an already-tokenized
    * `(source, tk)` frame and an EXPLICIT trained vocabulary — typically
    * the artifact [[graft.ops.ModelStore]] persisted from
    * [[bpeLearnLoopTk]] (`(tok, s, n)` rows: each token with its trained
    * boundary-delimited segmentation). No training loop runs here: the
    * token stream key-joins the broadcast (tok → symbol count) mapping.
    */
  def bpeFertilityFromVocab(tkDocs: DataFrame, vocab: DataFrame,
                            sourceCol: String = "source"): DataFrame = {
    val seg = vocab.select(col("tok"),
      size(filter(split(col("s"), " "), x => x =!= lit(""))).cast("long")
        .as("n_sub"))
    tkDocs.select(col(sourceCol), explode(col("tk")).as("tok"))
      .join(broadcast(seg), Seq("tok"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("n_sub")).as("n_subwords"),
        round(sum(col("n_sub")).cast("double") / count(lit(1)), 6)
          .as("fertility"))
  }

  /** SPARSE k-NN retrieval over tf-idf document vectors — the inverted-
    * index (term-at-a-time) search shape, complementing the dense-vector
    * family in [[graft.ops.Similarity]]: [[bm25]] scores a FIXED term set
    * map-only; this op builds a real term-partitioned index and answers a
    * batch of free-text queries by cosine similarity.
    *
    * Scale shape, stage by stage:
    *   - postings `(doc_id, term, tf)`: explode + hash aggregate — the
    *     map-side combine collapses within-doc repeats before the one
    *     term/doc-keyed shuffle; the corpus parquet is scanned ONCE
    *     (postings are `localCheckpoint`ed and every later stage derives
    *     from them, including N = distinct doc count — no second scan).
    *   - idf and document norms are term- and doc-keyed aggregates over
    *     the postings, never over the corpus.
    *   - search: the query-term frame (|queries|·|terms| rows) is
    *     BROADCAST against the postings, so only postings of terms that
    *     some query mentions flow into the (query, doc)-keyed partial
    *     aggregate; per-query top-k uses the bounded-heap `topk_by_score`
    *     aggregate — k rows per task per query cross the final exchange,
    *     never a corpus-sized window.
    *
    * Cross-engine determinism: idf and per-term weights are rounded to
    * 6 dp then fixed as DECIMAL(18,6), so dot products and squared norms
    * are EXACT decimal sums (order-independent — safe under any partial-
    * aggregation schedule); the only floating steps are one sqrt, one
    * multiply, one divide on identical inputs, then a final 6 dp round.
    * Ties at the k boundary break on smaller doc_id in both engines.
    */
  def sparseKnn(docs: DataFrame, queries: Seq[(Long, String)],
                k: Int): DataFrame =
    sparseKnnTk(docs.select(col("doc_id"), tokens(col("text")).as("tk")),
      queries, k)

  /** [[sparseKnn]] over an already-tokenized `(doc_id, tk)` frame — the
    * stage-once path (see [[TextStage]]); only the tiny query strings
    * tokenize here. */
  def sparseKnnTk(tkDocs: DataFrame, queries: Seq[(Long, String)],
                  k: Int, maxDfFrac: Option[Double] = None): DataFrame =
    sparseKnnFromPostings(postingsOf(tkDocs), queries, k, maxDfFrac)

  /** The exact-tf postings frame `(doc_id, term, tf)` — the shared
    * corpus-side artifact of the sparse-retrieval family, materialized
    * once (it feeds idf, weights and norms).
    */
  private def postingsOf(tkDocs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(tkDocs.sparkSession)
    tkDocs
      .select(col("doc_id"), explode(col("tk")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
  }

  /** [[sparseKnnTk]] from a pre-materialized postings frame — lets
    * [[sparseRecallTk]] build the token explode + postings aggregate
    * ONCE for its exact and pruned legs (it used to run twice).
    */
  private def sparseKnnFromPostings(postings: DataFrame,
                                    queries: Seq[(Long, String)],
                                    k: Int,
                                    maxDfFrac: Option[Double]): DataFrame = {
    import postings.sparkSession.implicits._
    // N for idf = docs that produced at least one token (documented
    // semantics: untokenizable docs are outside the vector space).
    val nDocs = postings.agg(
      countDistinct(col("doc_id")).cast("double").as("n_docs"))
    // idf (vocab-sized) and the weighted postings (corpus-sized) each
    // feed 2+ consumers; checkpoint both so each term/doc shuffle runs
    // ONCE — Catalyst would otherwise re-derive the whole subtree per
    // consumer (the round-7 exactFromSketches lesson).
    // maxDfFrac = posting-list pruning, the standard lever against hot
    // lists at scale (a stopword's postings are O(corpus); capping df
    // bounds every list the search ever walks; a FRACTION of N, like
    // Lucene/sklearn max_df, so the knob means the same thing at any
    // corpus size). Terms over the cap are dropped from the INDEX: idf
    // still uses the unpruned N, but weights, document norms, and query
    // terms all live in the pruned vector space — that IS what a
    // deployed pruned index scores with.
    val idf = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .where(maxDfFrac.map(f => col("df") <= lit(f) * col("n_docs"))
        .getOrElse(lit(true)))
      .select(col("term"),
        round(log(col("n_docs") / col("df")), 6).as("idf"))
      .localCheckpoint()
    val wp = postings.join(idf, "term")
      .select(col("doc_id"), col("term"),
        round(col("tf") * col("idf"), 6)
          .cast("decimal(18,6)").as("w"))
      .localCheckpoint()
    val dnorm = wp.groupBy(col("doc_id"))
      .agg(round(sqrt(sum(col("w") * col("w")).cast("double")), 6)
        .as("dnorm"))
    val scored = wp.join(dnorm, "doc_id")
    val qterms = queries.toDF("query_id", "qtext")
      .select(col("query_id"),
        explode(array_distinct(tokens(col("qtext")))).as("term"))
      .join(idf, "term")
      .select(col("query_id"), col("term"),
        col("idf").cast("decimal(18,6)").as("wq"))
    val qnorm = qterms.groupBy(col("query_id"))
      .agg(round(sqrt(sum(col("wq") * col("wq")).cast("double")), 6)
        .as("qnorm"))
    val qside = qterms.join(qnorm, "query_id")
    scored.join(broadcast(qside), "term")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w") * col("wq")).cast("double").as("dot"),
        max(col("dnorm")).as("dnorm"), max(col("qnorm")).as("qnorm"))
      .select(col("query_id"), col("doc_id"),
        round(col("dot") / (col("dnorm") * col("qnorm")), 6).as("score"))
      .groupBy(col("query_id"))
      .agg(expr(s"topk_by_score(score, doc_id, $k)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.nbr_id").as("doc_id"),
        col("col.cos_sim").as("score"))
  }

  /** Sparse-retrieval accuracy probe — the [[graft.ops.Similarity.annRecall]]
    * analog for the inverted index: recall\@k of the df-PRUNED index
    * (posting lists capped at `maxDfFrac`·N — the lever that bounds hot
    * lists at 100 TB) against the exact unpruned tf-idf cosine top-k,
    * per query. Prices the prune knob before it ships, exactly as
    * `sketch_eval` prices MinHash and `ann_recall*` price dense ANN.
    *
    * Both legs are the already-bounded top-k frames (O(queries·k)
    * rows), so the comparison costs nothing at any corpus scale; the
    * heavy lifting stays inside the two independently-scale-shaped
    * retrieval plans. Queries whose every term is pruned simply score
    * no hits (recall 0) — the honest answer a pruned index gives.
    */
  def sparseRecallTk(tkDocs: DataFrame, queries: Seq[(Long, String)],
                     k: Int, maxDfFrac: Double): DataFrame = {
    // ONE postings build (token explode + (doc, term) aggregate) shared
    // by both legs — only the df prune differs between them.
    val postings = postingsOf(tkDocs)
    val exact = sparseKnnFromPostings(postings, queries, k, None)
      .select(col("query_id"), col("doc_id"))
    val pruned = sparseKnnFromPostings(postings, queries, k, Some(maxDfFrac))
      .select(col("query_id").as("pq"), col("doc_id").as("pd"))
    exact.join(pruned,
        col("query_id") === col("pq") && col("doc_id") === col("pd"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("pd")).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact").cast("double"), 4)
          .as("recall"))
  }

  /** Deterministic training-export shuffle: every row gets a seeded
    * 60-bit hash, a shard (`h mod numShards`), and a within-shard
    * position (rank by `(h, key)`) — the "global shuffle" step every
    * epoch pipeline needs before writing fixed-count training shards,
    * made a pure function of `(salt, key)` so re-runs, resumed jobs and
    * other engines produce the IDENTICAL example order.
    *
    * Scale shape: the hash is a map-only projection; the mod-hash shard
    * assignment is uniform by construction (no skew, unlike key-range
    * sharding); ranking partitions by shard, so each shard orders
    * independently — a per-partition external sort (spillable), NEVER a
    * global sort, and `row_number` streams over it with O(1) state.
    * Size `numShards` so one shard's rows fit a task's spill budget;
    * a writer would follow with `partitionBy(shard)`.
    */
  def shuffleShard(df: DataFrame, keyCol: String, salt: String,
                   numShards: Int): DataFrame = {
    require(numShards > 0, s"shuffleShard: numShards must be > 0, got $numShards")
    val h = h60(concat(lit(salt), lit(":"), col(keyCol)))
    df.select(col(keyCol), h.as("hv"))
      .withColumn("shard", (col("hv") % numShards).cast("long"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard"))
          .orderBy(col("hv"), col(keyCol))).cast("long"))
      .select(col(keyCol), col("shard"), col("pos"))
  }
}
