package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Column helpers shared by every operator in the engine.
  *
  * The `h60` hash is the engine's *portable* 64-bit hash: the first 15 hex
  * chars of an MD5, parsed as an integer. It is chosen over `xxhash64`/
  * `hash` (Spark's murmur3) deliberately — MD5 is bit-identical in every
  * engine (DuckDB: `CAST('0x' || substr(md5(x),1,15) AS BIGINT)`), so MinHash
  * signatures, SimHash fingerprints and LSH bucket ids computed here can be
  * verified by an independent SQL oracle. 60 bits keeps the value positive
  * in a signed i64 in any engine. At 100 TB MD5 costs more than murmur3 per
  * row; each LSH operator takes the hash as a parameter so production runs
  * can swap `xxhash64` back in — the *shape* (shuffle keys, band layout)
  * is hash-agnostic.
  */
package object functions {

  /** First 60 bits of md5(s), as a non-negative long. Native codegen'd
    * expression (see [[H60]]) — same value as
    * `conv(substring(md5(s), 1, 15), 16, 10)`, tens of times cheaper.
    */
  def h60(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      H60(org.apache.spark.sql.GraftColumnBridge.expression(c.cast("string"))))

  /** k-function MinHash signature of a string-array column (see
    * [[MinHash31]]).
    */
  def minhash31(c: Column, k: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      MinHash31(org.apache.spark.sql.GraftColumnBridge.expression(c), k))

  /** Lowercased alphanumeric tokens; empty tokens removed.
    * DuckDB mirror: `list_filter(string_split_regex(lower(x),'[^a-z0-9]+'), t -> t <> '')`.
    */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => t =!= lit(""))

  /** `n`-word shingles (space-joined) of a token array; empty when the
    * document has fewer than `n` tokens. Native single-pass expression —
    * see [[Shingles]] for why the declarative `transform`+`slice` form is
    * quadratic in tokens per row.
    */
  def shingles(toks: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      Shingles(org.apache.spark.sql.GraftColumnBridge.expression(toks), n))

  /** Exact money arithmetic: cast through DECIMAL(18,2) so sums are
    * order-independent and bit-identical to the DuckDB oracle, then
    * surface as double.
    */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Narrow decimal for rates (discount/tax in [0,1)): keeps decimal
    * products like `price * (1 - rate)` within precision 38 in every
    * engine, so no engine-specific scale reduction ever rounds a digit.
    */
  def rate2(c: Column): Column = c.cast(DecimalType(4, 2))
}
