package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** THE corpus text normalization — the single definition every
  * text-keyed operator shares: lowercase, collapse every non-[a-z0-9]
  * run to one space, trim. Fingerprints (q23), shingles/MinHash/
  * SimHash blocking (q25/q26/q27/q138), edit-distance blocking
  * (q151/q152), word tokenization (q20/q44/q116/BM25), span grams
  * (q89/q96/q99/q104) and decontamination (q88/q125) all key off this
  * form, so two operators can only agree on what "the same text" means
  * because they call the same function: a drift here (say one operator
  * keeping underscores) silently desynchronizes dedup clusters from
  * fingerprints. The DuckDB oracles inline the equivalent
  * `trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))`
  * ([[sqlNorm]]), which the query registries' oracle strings must
  * keep textually in lockstep with this definition.
  */
object TextNorm {

  /** Normalized text of `text`. */
  def norm(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Normalized word array of `text` (split on the single spaces
    * [[norm]] guarantees; yields one empty-string token for empty
    * text, which tokenizing callers filter — same as the oracles'
    * `word <> ''` guard). */
  def words(text: Column): Column = split(norm(text), " ")

  /** The DuckDB-dialect twin of [[norm]] over a SQL expression. */
  def sqlNorm(expr: String): String =
    s"trim(regexp_replace(lower($expr), '[^a-z0-9]+', ' ', 'g'))"
}
