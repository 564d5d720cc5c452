package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class UnicodeNormSpec extends SparkSpec {
  import spark.implicits._

  private def canon(s: String): String = {
    Seq(s).toDF("t").select(UnicodeNorm.canonicalizeText(col("t"))).head().getString(0)
  }

  test("NFC composes decomposed sequences to the precomposed form") {
    val got = Seq("cafe\u0301", "caf\u00e9", "A\u030a").toDF("t")
      .select(UnicodeNorm.nfcNormalize(col("t")).as("n")).collect().map(_.getString(0))
    assert(got(0) == "caf\u00e9")
    assert(got(1) == "caf\u00e9") // already NFC: unchanged
    assert(got(2) == "\u00c5") // A + ring above -> A-ring
  }

  test("nfc is idempotent and null-safe") {
    val df = Seq(Option("e\u0301x"), None).toDF("t")
      .select(UnicodeNorm.nfcNormalize(UnicodeNorm.nfcNormalize(col("t"))).as("n"))
    val rows = df.collect()
    assert(rows(0).getString(0) == "\u00e9x")
    assert(rows(1).isNullAt(0))
  }

  test("canonicalizeText strips zero-width and control chars, collapses whitespace") {
    assert(canon("a\u200bb") == "ab")
    assert(canon("a\u0000\u0007b") == "ab")
    assert(canon("  a \t\n b  ") == "a b")
    assert(canon("x\u200b  cafe\u0301") == "x caf\u00e9")
    assert(canon("\ufeffbom") == "bom")
  }

  test("vertical tab is stripped, never whitespace-collapsed (engine-parity trap)") {
    // Java \s matches \x0B but RE2 (DuckDB) does not — the strip class
    // removes it BEFORE the collapse so both engines agree.
    assert(canon("a\u000bb") == "ab")
  }

  test("the three q204 variants canonicalize identically") {
    val base = "Some doc text"
    val vs = Seq(base + " caf\u00e9", base + " cafe\u0301",
      base + "\u200b  cafe\u0301")
    assert(vs.map(canon).distinct.size == 1)
  }

  test("the expression is codegen-capable (no CodegenFallback in the plan)") {
    // over a parquet scan (a local relation constant-folds away) the
    // normalizer must sit INSIDE a WholeStageCodegen span, and the class
    // itself must not be a CodegenFallback
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[NfcNormalize]))
    val df = sf("documents").select(UnicodeNorm.nfcNormalize(col("text")))
    val plan = planText(df.queryExecution.executedPlan)
    // "*(1) Project [nfcnormalize(...)" — the asterisk IS the
    // whole-stage-codegen marker; a fallback would print an unstarred
    // Project around the expression
    assert(plan.contains("*(1) Project [nfcnormalize"), plan)
  }
}
