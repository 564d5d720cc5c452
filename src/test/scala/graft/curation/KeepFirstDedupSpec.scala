package graft.curation

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KeepFirstDedupSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  // 6-token docs, segmentTokens = 3 → 2 segments each. Docs 1 and 2
  // share segment "a b c"; doc 3 duplicates doc 1 entirely.
  private val docs = Seq(
    (1L, "a b c d e f"),
    (2L, "a b c x y z"),
    (3L, "a b c d e f"),
    (4L, "p q r")        // trailing partial segment, unique
  ).toDF("doc_id", "text")

  test("exactly one copy of every distinct segment survives, the FIRST one") {
    val got = Curation.dedupSegmentsKeepFirst(docs, segmentTokens = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    def m(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(got.toSeq == Seq(
      (1L, 2L, 2L, m("a b c d e f")), // keeper of both its segments
      (2L, 2L, 1L, m("x y z")),       // "a b c" kept in doc 1
      (3L, 2L, 0L, m("")),            // full duplicate: nothing survives
      (4L, 1L, 1L, m("p q r"))))
  }

  test("keep-one invariant: total kept equals distinct segment count") {
    val rep = Curation.dedupSegmentsKeepFirst(docs, segmentTokens = 3)
    val kept = rep.agg(sum("n_kept")).head().getLong(0)
    val distinctSegs = docs
      .select(explode(graft.text.TextFunctions.tokens(col("text"))).as("tok"))
      .count() // not the invariant itself — just sanity that data loaded
    assert(distinctSegs > 0)
    // distinct segments: 1:"a b c",2:"d e f",3:"x y z",4:"p q r"
    assert(kept == 4L)
  }

  test("no corpus-sized window and no text column in any exchange") {
    val plan = planText(Curation.dedupSegmentsKeepFirst(docs, segmentTokens = 3)
      .queryExecution.optimizedPlan)
    // keeper election must be an Aggregate, not a Window over h
    assert(!plan.contains("Window"), plan)
    // the drop-list join carries ids and positions; segment/token text
    // reaches no Exchange (optimized plan: no Exchange op carries 's')
    val executed = Curation.dedupSegmentsKeepFirst(docs, segmentTokens = 3)
      .queryExecution.executedPlan
    val exchanges = collect(executed) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val cols = e.output.map(_.name).toSet
      assert(!cols.contains("s") && !cols.contains("text") && !cols.contains("toks"),
        s"segment/doc text must not shuffle; exchange carries $cols")
    }
  }

  test("segmentTokens must be positive") {
    intercept[IllegalArgumentException](
      Curation.dedupSegmentsKeepFirst(docs, segmentTokens = 0))
  }
}
