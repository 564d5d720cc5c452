package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.text.TextFunctions._

/** The native sketch expressions must be BIT-IDENTICAL to the Column-
  * function formulations they replaced (which the DuckDB oracle mirrors):
  * same tokenization (space-only trim), same md5-based 60-bit hashes, same
  * tie behavior.
  */
class TextSketchSpec extends SparkSpec {

  private val seeds = (0 until 16).map(i => (i.toLong * 0x9E3779B97F4A7CL) & ((1L << 60) - 1))

  private def docs = {
    import spark.implicits._
    Seq(
      "the quick brown fox jumps over the lazy dog",
      "one two",            // < 3 tokens: no shingles
      "",                   // empty text: one empty token
      "\ta tab-led doc with trailing space ",  // trim strips spaces, NOT the tab
      "repeat repeat repeat repeat",
      "unicode tëst çase naïve"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("word_shingles == shingles(tokens(text), k)") {
    val both = docs.select(
      TextSketch.wordShingles(col("text"), 3).as("native"),
      shingles(tokens(col("text")), 3).as("hof")).collect()
    both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("shingle_hash_set == sorted distinct md5-hashes of word_shingles") {
    val both = docs.select(
      TextSketch.shingleHashSet(col("text"), 3).as("native"),
      array_sort(array_distinct(transform(
        TextSketch.wordShingles(col("text"), 3),
        s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")))).as("hof"))
      .collect()
    both.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("sorted_intersect_count == size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    val cases = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 9L, 11L)),      // partial overlap
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),               // identical
      (Seq(1L, 2L), Seq(5L, 6L)),                       // disjoint
      (Seq.empty[Long], Seq(1L)),                       // empty side
      (Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MaxValue)) // extremes
    ).toDF("a", "b")
    val r = cases.select(
      TextSketch.sortedIntersectCount(col("a"), col("b")).as("native"),
      size(array_intersect(col("a"), col("b"))).as("builtin")).collect()
    r.foreach(x => assert(x.getInt(0) == x.getInt(1)))
  }

  test("simhash60 == explode+vote formulation") {
    val native = docs.select(col("doc_id"), TextSketch.simhash60(col("text")).as("fp"))
    val votes = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), tokenHash60(col("tok")).as("h"))
    val bitSums = (0 until 60).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b"))
    val hof = votes.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(b => when(col(s"s$b") >= 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("fp"))
    val n = native.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h = hof.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(n == h)
  }

  test("minhash_sig == explode+min-aggregate formulation (null for short docs)") {
    val native = docs.select(col("doc_id"),
      TextSketch.minhashSig(col("text"), 3, seeds).as("sig")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    val shingleRows = docs
      .select(col("doc_id"), explode(shingles(tokens(col("text")), 3)).as("sh1"))
      .select(col("doc_id"),
        conv(substring(md5(col("sh1")), 1, 15), 16, 10).cast("long").as("hb"))
    val aggs = seeds.zipWithIndex.map { case (sd, i) =>
      min(col("hb").bitwiseXOR(lit(sd))).as(s"h$i") }
    val hof = shingleRows.groupBy("doc_id").agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong(_)).toSeq).toMap
    hof.foreach { case (id, sig) => assert(native(id) == sig, s"doc $id") }
    // docs absent from the explode path (no shingles) must be null natively
    (native.keySet -- hof.keySet).foreach(id => assert(native(id) == null))
    assert((native.keySet -- hof.keySet).nonEmpty)
  }
}
