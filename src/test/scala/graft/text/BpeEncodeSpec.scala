package graft.text

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The native BpeEncode expression is pinned BIT-IDENTICAL to the
  * foldLeft-of-replaces plan it replaced (q185's original encode):
  * per whitespace word, char-wrap then one left-to-right non-overlapping
  * literal replace per merge IN TRAINING ORDER, words concatenated.
  * Parity is proven against the fold itself (not a re-derivation) on the
  * trained sf0.001 model, on adversarial merge tables where the textbook
  * lowest-rank loop DIVERGES from the fold (duplicate-output merges), on
  * fallback-path words (parens, U+2028), and on degenerate inputs. The
  * scale claim — expression depth independent of merge count — is
  * asserted structurally: the fold's plan grows one node per merge, the
  * native plan is one node at any vocab size.
  */
class BpeEncodeSpec extends SparkSpec {
  import spark.implicits._

  /** The replaced plan, verbatim (TextQueries.scala pre-round-12). */
  private def foldEncode(text: Column, merges: Seq[(String, String)]): Column = {
    def encWord(w: Column): Column =
      merges.foldLeft(regexp_replace(w, "(.)", "($1)")) {
        case (e, (a, b)) => replace(e, lit(s"($a)($b)"), lit(s"($a$b)"))
      }
    concat_ws("", transform(split(trim(text), "\\s+"), encWord(_)))
  }

  private def assertParity(docs: Seq[String], merges: Seq[(String, String)]): Unit = {
    val d = docs.toDF("text")
    val diff = d.select(
        col("text"),
        foldEncode(col("text"), merges).as("fold"),
        BpeEncoder.encode(col("text"), merges).as("native"))
      .filter(col("fold") =!= col("native"))
      .collect()
    assert(diff.isEmpty, s"fold/native diverge: ${diff.take(3).mkString("; ")}")
  }

  test("parity with the fold on the trained sf0.001 model") {
    val docs = sf("documents")
    val model = BpeTrainer.fit(spark, docs, merges = 8)
    val merges = model.merges.map { case (a, b, _) => (a, b) }
    val diff = docs.select(
        foldEncode(col("text"), merges).as("fold"),
        BpeEncoder.encode(col("text"), merges).as("native"))
      .filter(col("fold") =!= col("native")).count()
    assert(diff === 0L)
  }

  test("duplicate-output merges: fold semantics, NOT the lowest-rank loop") {
    // merges: (b,c)->bc, (a,bc)->abc, (x,y)->xy, (xy,abc)->xyabc,
    // then (q,xyabc). Word "qxybc...": after (x,y) and (b,c) fire in one
    // in-order sweep, (a,bc) fires creating "abc" ADJACENT to "xy" — the
    // (xy,abc) merge at HIGHER rank still applies (increasing ranks), but
    // a pair whose rank is BELOW an already-applied pass must not.
    val merges = Seq(("b", "c"), ("a", "bc"), ("x", "y"),
      ("xy", "abc"), ("q", "xyabc"))
    assertParity(Seq("qxyabc", "xyabc", "abc", "aabbcc", "qxy abc bc a",
      "bcbcbc", "abcbc"), merges)
  }

  test("late-created lower-rank pair is skipped (the fold's signature)") {
    // rank0 (a,bc): word "abbc" has no "bc" symbol yet — pass 0 is a
    // no-op. rank1 (b,c) creates symbol "bc" adjacent to "a"; the fold is
    // already past pass 0, so "(a)(bc)" must survive unmerged. The
    // lowest-rank loop WOULD merge it — this is the divergence case the
    // expression's increasing-rank rule exists for.
    val merges = Seq(("a", "bc"), ("b", "c"))
    assertParity(Seq("abbc", "abc", "abcabc", "babc"), merges)
    val out = Seq("abbc").toDF("text")
      .select(BpeEncoder.encode(col("text"), merges).as("e"))
      .head().getString(0)
    assert(out === "(a)(b)(bc)")
  }

  test("duplicate pairs in the merge table replay every occurrence") {
    // (a,b) learned twice: pass 0 merges, pass 2 re-merges occurrences
    // created by pass 1 ((c,a) -> "ca" ... none here, but the second
    // rank must at least be a no-op, not a crash or a double-merge).
    val merges = Seq(("a", "b"), ("c", "d"), ("a", "b"))
    assertParity(Seq("abab", "abcdab", "aabb", "cdcd"), merges)
  }

  test("left-to-right non-overlap within a pass") {
    val merges = Seq(("a", "a"), ("aa", "aa"))
    assertParity(Seq("aaaa", "aaa", "aaaaa", "aaaaaa a aa"), merges)
    val out = Seq("aaa").toDF("text")
      .select(BpeEncoder.encode(col("text"), merges).as("e"))
      .head().getString(0)
    assert(out === "(aa)(a)") // never re-fuses the fresh "aa" with the tail
  }

  test("fallback path: parens and U+2028 words match the fold") {
    val merges = Seq(("a", "b"), ("(", ")"))
    assertParity(Seq("(ab)", "a(b", "ab()ab", ")(", "a b ab",
      "normal ab words"), merges)
  }

  test("degenerate inputs: empty text, single chars, no merges") {
    assertParity(Seq("", " ", "x", "x y z", "  padded  "), Seq(("a", "b")))
    assertParity(Seq("abc", ""), Seq.empty)
  }

  test("raw-SQL misuse fails at analysis, not with a runtime CCE") {
    Seq("ab").toDF("text").createOrReplaceTempView("bpe_chk")
    def analysisError(sql: String): String =
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(sql).collect()
      }.getMessage
    // wrong arity
    assert(analysisError("SELECT graft_bpe_encode(text) FROM bpe_chk")
      .contains("3 arguments"))
    // wrong text type
    assert(analysisError(
      "SELECT graft_bpe_encode(1, array('a'), array('b')) FROM bpe_chk")
      .contains("text must be string"))
    // wrong element type for the piece arrays
    assert(analysisError(
      "SELECT graft_bpe_encode(text, array(1), array(2)) FROM bpe_chk")
      .contains("array<string>"))
    // non-foldable piece arrays (column reference, not a literal)
    assert(analysisError(
      "SELECT graft_bpe_encode(text, array(text), array(text)) FROM bpe_chk")
      .contains("non-foldable"))
    // and the happy path through raw SQL still encodes
    val ok = spark.sql(
      "SELECT graft_bpe_encode(text, array('a'), array('b')) AS e FROM bpe_chk")
      .as[String].head()
    assert(ok === "(ab)")
  }

  test("null text yields empty string, as concat_ws does") {
    val out = Seq[Option[String]](None).toDF("text")
      .select(BpeEncoder.encode(col("text"), Seq(("a", "b"))).as("e"),
        foldEncode(col("text"), Seq(("a", "b"))).as("f"))
      .head()
    assert(out.getString(0) === "")
    assert(out.getString(1) === "")
  }

  test("expression depth is merge-count independent (the 32k-vocab claim)") {
    def treeSize(c: Column): Int =
      Seq("t").toDF("text").select(c).queryExecution
        .analyzed.expressions.map(_.collect { case e => e }.size).sum
    val big = (0 until 4096).map(i => (s"p$i", s"q$i"))
    val nativeBig = treeSize(BpeEncoder.encode(col("text"), big))
    val nativeSmall = treeSize(BpeEncoder.encode(col("text"), big.take(8)))
    // one expression node + three children at ANY vocab size
    assert(nativeBig === nativeSmall)
    val foldSmall = treeSize(foldEncode(col("text"), big.take(8).toSeq))
    val foldBigger = treeSize(foldEncode(col("text"), big.take(64).toSeq))
    assert(foldBigger > foldSmall + 100) // the fold grows with the table
    assert(nativeBig < foldSmall)
    // and the 4096-merge native column actually EXECUTES
    val ok = Seq("p0q0 zz").toDF("text")
      .select(BpeEncoder.encode(col("text"), big).as("e")).head().getString(0)
    assert(ok.nonEmpty)
  }
}
