package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The fastText-shaped hashed-feature linear classifier's expression
  * builders, used by the oracle-checked registry row (q267,
  * TextQueries). Word-bigram features hash into [[Buckets]] buckets (first 8 md5 hex
  * digits mod B — the hashing trick); weights are content-addressed
  * integers in [-1000, 1000] (md5-derived — no stored model artifact,
  * every engine rederives identical weights); the forward pass is a
  * row-local transform + aggregate HOF chain: no explode, no
  * weight-table join, nothing but the final (doc_id, score) rows in any
  * exchange. Beyond-reference work: the reference's only text-quality
  * gating is the keyword screen in
  * app/etl_app/utils/helpers.py:213-226 (interpret_test_result's
  * keyword-order verdict before ingest); this generalizes that
  * gate-before-ingest idea to a deterministic hashed linear model.
  */
object QualityClassifier {

  val Buckets = 64

  /** Word bigrams of a whitespace token array (empty below 2 tokens).
    * Native one-pass [[graft.text.ArrayBigrams]] — same strings as the
    * previous `transform(sequence(...), i -> concat_ws(" ", slice(toks,
    * i, 2)))` HOF chain, which allocated a slice array and an interpreted
    * lambda frame per bigram (the dominant stage of the q267 forward
    * pass, as a per-stage bench row measured it).
    */
  def bigrams(toks: Column): Column = TextSketch.arrayBigrams(toks)

  /** Hashing-trick bucket id of one gram. Native md5-prefix (same value
    * as `conv(substring(md5(g), 1, 8), 16, 10)` — guide §4).
    */
  def bucket(g: Column): Column =
    pmod(TextSketch.md5PrefixLong(g, 8), lit(Buckets.toLong))

  /** Content-addressed integer weight of a bucket, in [-1000, 1000]. */
  def weight(b: Column): Column =
    pmod(TextSketch.md5PrefixLong(concat(lit("w#"), b.cast("string")), 4),
      lit(2001L)) - 1000L

  /** The fused forward pass: dot(weights, feature multiset) as one
    * row-local aggregate.
    */
  def score(toks: Column): Column =
    aggregate(bigrams(toks), lit(0L), (acc, g) => acc + weight(bucket(g)))
}
