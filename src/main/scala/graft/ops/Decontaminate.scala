package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions._

/** Benchmark decontamination — flag training documents that share any
  * word n-gram with an evaluation/benchmark set, the standard hygiene
  * pass before pre-training (eval questions must not leak into the
  * training corpus).
  *
  * Shape at 100 TB: the benchmark side is always small (an eval suite is
  * 10^4–10^6 n-grams), so its distinct n-gram hash set is BROADCAST —
  * 8-byte keys, never gram strings. The corpus side is a map-only
  * shingle explode feeding a broadcast semi-join, so the corpus never
  * shuffles on grams; the only shuffle is the final per-doc hit count,
  * whose input is already reduced to the (rare) matching rows.
  * (The reference has no text surface at all — this is part of the
  * driver-mandated extended pipeline, SURVEY §2.4.)
  */
object Decontaminate {

  /** Per-corpus-doc overlap stats vs `bench`: distinct n-grams, the
    * number of them that appear anywhere in the benchmark set, and the
    * contaminated fraction. Docs with zero overlap are not emitted
    * (at scale that's ~the whole corpus — emitting them would turn a
    * rare-event report into a full-corpus write).
    */
  def flagOverlap(corpus: DataFrame, bench: DataFrame, n: Int): DataFrame = {
    val benchGrams = bench
      .select(explode(array_distinct(shingles(tokens(col("text")), n))).as("gram"))
      .select(h60(col("gram")).as("gh")).distinct()
    // The corpus leg is tokenize+shingle+hash per row — CPU-heavy map
    // work that would run single-threaded on a one-row-group scan (the
    // small-corpus case; a no-op at 100 TB where scans split). Project to
    // the two needed columns first so only they move.
    graft.spark.Adaptive.fanOut(corpus.select(col("doc_id"), col("text")))
      .select(col("doc_id"), array_distinct(shingles(tokens(col("text")), n)).as("grams"))
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"),
        explode(col("grams")).as("gram"))
      .select(col("doc_id"), col("n_grams"), h60(col("gram")).as("gh"))
      .join(broadcast(benchGrams), Seq("gh"), "left_semi")
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("doc_id"), col("n_grams"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_grams").cast("double"), 4)
          .as("contamination"))
  }
}
