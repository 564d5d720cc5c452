package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.typedLit
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_bpe_encode(text, a_pieces, b_pieces)` — true BPE inference
  * (merges applied in training order) as ONE expression node, replacing
  * the foldLeft-of-`replace` plan whose expression depth is linear in the
  * merge count (a production 32k-merge vocab would be a 32k-deep
  * expression tree — a janino codegen OOM before it is a wall-time
  * problem; see the repo's wide-codegen memory note).
  *
  * Pinned semantics — BIT-IDENTICAL to the reference fold
  *   `merges.foldLeft(regexp_replace(w, "(.)", "($1)")) { (e,(a,b)) =>
  *      replace(e, "(a)(b)", "(ab)") }`
  * applied per whitespace word and concatenated with `concat_ws("")`:
  * each merge is ONE left-to-right non-overlapping literal pass over the
  * word's paren-delimited symbol string, in training order. This is NOT
  * always the textbook lowest-rank-loop: if a later merge's output string
  * collides with an earlier merge's operand (possible in principle —
  * ("a","bc") and ("ab","c") both yield "abc"), the loop would re-apply
  * the earlier rank where the fold, already past that pass, would not.
  * The implementation therefore applies passes at strictly INCREASING
  * ranks — `min{rank present} > last applied` — which is provably equal
  * to the fold (a skipped rank's pass is a no-op: its pair was absent
  * when every smaller present rank had already been chosen first).
  *
  * Cost per word: O(passes x len) with passes <= len-1 (each applied pass
  * shrinks the symbol list), INDEPENDENT of vocab size — vs the fold's
  * O(merges x len). The merge table rides the plan as two string-array
  * literals (one broadcast with the serialized expression, the
  * [[SubwordTokenize]] discipline).
  *
  * Exactness escape hatch: a word containing a paren (symbol-boundary
  * ambiguity in the string representation) or a character Java-regex `.`
  * does not match (U+0085/U+2028/U+2029 survive the `\s+` split) is
  * routed through a literal java.util.regex + String.replace replay of
  * the fold — same semantics by construction, O(merges) per such word,
  * documented as the slow path for pathological tokens only.
  *
  * NULL contract: null text yields "" (not null), mirroring
  * `concat_ws("", transform(tokens(text), ...))` which skips null args.
  */
case class BpeEncode(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  // registered in the session function registry, so raw-SQL callers can
  // hand it anything — fail at ANALYSIS with a readable message, not at
  // runtime with a ClassCastException (the RandomProjection discipline)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.ArrayType
    if (children.length != 3)
      return TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_encode expects 3 arguments (text, a_pieces, b_pieces), got ${children.length}")
    children.head.dataType match {
      case StringType => ()
      case t => return TypeCheckResult.TypeCheckFailure(
        s"graft_bpe_encode: text must be string, got ${t.simpleString}")
    }
    var i = 1
    while (i < 3) {
      children(i).dataType match {
        case ArrayType(StringType, _) if children(i).foldable => ()
        case t => return TypeCheckResult.TypeCheckFailure(
          s"graft_bpe_encode: ${if (i == 1) "a_pieces" else "b_pieces"} must be a " +
            s"foldable array<string> literal, got ${t.simpleString}" +
            (if (children(i).foldable) "" else " (non-foldable)"))
      }
      i += 1
    }
    TypeCheckResult.TypeCheckSuccess
  }

  private lazy val merges: Array[(String, String)] = {
    val as = children(1).eval(InternalRow.empty).asInstanceOf[ArrayData]
    val bs = children(2).eval(InternalRow.empty).asInstanceOf[ArrayData]
    require(as.numElements() == bs.numElements(),
      s"graft_bpe_encode: a/b piece arrays differ in length " +
        s"(${as.numElements()} vs ${bs.numElements()})")
    Array.tabulate(as.numElements()) { i =>
      (as.getUTF8String(i).toString, bs.getUTF8String(i).toString)
    }
  }

  /** (a, b) -> ascending ranks (almost always one; duplicates kept so the
    * strictly-increasing pass rule stays exact even on degenerate merge
    * tables that learn the same pair twice). */
  private lazy val rankMap: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
    var i = 0
    while (i < merges.length) {
      val k = merges(i)._1 + "\u0000" + merges(i)._2
      val buf = m.get(k)
      if (buf == null) {
        val b = new scala.collection.mutable.ArrayBuffer[Int](1); b += i; m.put(k, b)
      } else buf += i
      i += 1
    }
    val out = new java.util.HashMap[String, Array[Int]](m.size())
    m.forEach((k, v) => out.put(k, v.toArray))
    out
  }

  private val wrapPattern = java.util.regex.Pattern.compile("(.)")

  private def needsFallback(word: String): Boolean = {
    var i = 0
    while (i < word.length) {
      val c = word.charAt(i)
      if (c == '(' || c == ')' || c == '\n' || c == '\r' ||
          c == 0x85.toChar || c == 0x2028.toChar || c == 0x2029.toChar)
        return true
      i += 1
    }
    false
  }

  /** Literal replay of the fold — regex wrap then one String.replace per
    * merge. Exact by construction; used only for pathological words. */
  private def encodeFallback(word: String): String = {
    var e = wrapPattern.matcher(word).replaceAll("($1)")
    var i = 0
    while (i < merges.length) {
      val (a, b) = merges(i)
      e = e.replace("(" + a + ")(" + b + ")", "(" + a + b + ")")
      i += 1
    }
    e
  }

  /** Rank-directed passes over the symbol array; equals the fold for
    * paren-free words (every literal "(a)(b)" match is symbol-aligned). */
  private def encodeFast(word: String, sb: java.lang.StringBuilder): Unit = {
    val syms = new scala.collection.mutable.ArrayBuffer[String](word.length)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val n = Character.charCount(cp)
      syms += word.substring(i, i + n)
      i += n
    }
    var lastApplied = -1
    var continue = syms.length > 1
    while (continue) {
      var minRank = Int.MaxValue
      var j = 0
      while (j < syms.length - 1) {
        val ranks = rankMap.get(syms(j) + "\u0000" + syms(j + 1))
        if (ranks != null) {
          var k = 0
          while (k < ranks.length && ranks(k) <= lastApplied) k += 1
          if (k < ranks.length && ranks(k) < minRank) minRank = ranks(k)
        }
        j += 1
      }
      if (minRank == Int.MaxValue) continue = false
      else {
        val (a, b) = merges(minRank)
        var p = 0
        while (p < syms.length - 1) {
          if (syms(p) == a && syms(p + 1) == b) {
            syms(p) = a + b
            syms.remove(p + 1)
          }
          p += 1
        }
        lastApplied = minRank
        continue = syms.length > 1
      }
    }
    var s = 0
    while (s < syms.length) {
      sb.append('(').append(syms(s)).append(')')
      s += 1
    }
  }

  override def eval(input: InternalRow): Any = {
    val t = children(0).eval(input)
    if (t == null) return UTF8String.EMPTY_UTF8
    val toks = Md5Hash.sparkTokens(t.asInstanceOf[UTF8String])
    val sb = new java.lang.StringBuilder
    var w = 0
    while (w < toks.length) {
      val word = toks(w)
      if (needsFallback(word)) sb.append(encodeFallback(word))
      else encodeFast(word, sb)
      w += 1
    }
    UTF8String.fromString(sb.toString)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object BpeEncoder {

  /** Whole-document piece stream `(p1)(p2)...` — per whitespace word, the
    * trained merges applied in training order, words concatenated. */
  def encode(text: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.native(BpeEncode(_), text,
      typedLit(merges.map(_._1)), typedLit(merges.map(_._2)))
}
