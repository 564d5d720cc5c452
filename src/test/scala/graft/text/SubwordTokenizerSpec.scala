package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class SubwordTokenizerSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Seq("a", "wind", "win", "ow", "dow", "up", "tab", "le")

  private def segment(text: String): (Int, Int, String) = {
    val r = Seq(text).toDF("text")
      .select(SubwordTokenizer.tokenize(col("text"), vocab).as("s"))
      .select("s.n_pieces", "s.n_unk", "s.joined").head()
    (r.getInt(0), r.getInt(1), r.getString(2))
  }

  test("greedy longest-match wins over shorter prefixes") {
    // 'win' and 'wind' both prefix "window"; greedy must take 'wind'
    assert(segment("window") === ((2, 0, "wind|ow")))
    // the longest prefix wins regardless of what follows it
    assert(segment("windup") === ((2, 0, "wind|up")))
  }

  test("out-of-vocab spans fall back one char at a time, flagged with '?'") {
    assert(segment("dup") === ((2, 1, "?d|up")))
    assert(segment("xyz") === ((3, 3, "?x|?y|?z")))
  }

  test("multi-word documents join pieces across words in order") {
    assert(segment("table window a") === ((5, 0, "tab|le|wind|ow|a")))
    assert(segment("  table   a ") === ((3, 0, "tab|le|a"))) // whitespace runs
  }

  test("null text stays null; empty text segments to zero pieces") {
    val r = Seq[Option[String]](None).toDF("text")
      .select(SubwordTokenizer.tokenize(col("text"), vocab).as("s")).head()
    assert(r.isNullAt(0))
    assert(segment("") === ((0, 0, "")))
  }
}
