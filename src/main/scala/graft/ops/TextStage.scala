package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-once tokenized corpus. The tokenizer ([[graft.functions.Tokens]],
  * one native pass over the text's bytes) still reads every byte of the
  * corpus and allocates a string per token, and one token stream has many
  * consumers: the LM family ([[TextStats.docPerplexity]] — five
  * token/bigram aggregates, [[TextStats.bigramSurprisalTk]] — three,
  * [[TextStats.sourceDivergence]], [[TextStats.unigramSurprisalTk]]) used
  * to re-tokenize the corpus once PER AGGREGATE, and about twenty queries
  * of a run read the same stream. A production pipeline tokenizes once,
  * stages the token stream to storage, and lets every consumer read the
  * staged columnar frame — this object is that staging layer.
  *
  * Shape: one corpus scan + one tokenizer pass writes `(doc_id, source,
  * tk)` parquet (same partitioning as the source read — corpus-sized,
  * NEVER coalesced); every later consumer — in the same query or a later
  * one — reads pre-split token arrays at columnar-scan speed with no
  * tokenizer work. Staged once per (corpus dir) per process via
  * [[ModelStore.fit]]; a production deployment would point the same
  * write at a durable path beside the corpus.
  *
  * Why an artifact and not a `localCheckpoint`: checkpoint blocks are
  * unpersisted by the harness between queries (and by any sane
  * memory-hygiene policy), which would break a cross-query shared frame
  * the first time it was reused; the parquet artifact survives any
  * unpersist and is re-readable by construction.
  */
object TextStage {

  /** The staged tokenized corpus for `docs` (must have `doc_id`,
    * `source`, `text`): `(doc_id, source, tk)`. First caller per `key`
    * pays the tokenizer pass; everyone else reads the artifact.
    */
  def tokenized(s: SparkSession, docs: DataFrame, key: String): DataFrame = {
    val path = ModelStore.fit(s"toks|$key", "graft_toks") { p =>
      docs.select(col("doc_id"), col("source"),
          graft.functions.tokens(col("text")).as("tk"))
        .write.mode("overwrite").parquet(p)
    }
    Tables.parquet(s, path)
  }
}
