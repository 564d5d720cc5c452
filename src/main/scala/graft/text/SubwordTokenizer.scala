package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.typedLit
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `subword_tokenize(text, vocab)` — greedy longest-match subword
  * tokenization (the WordPiece inference rule) against a broadcast
  * vocabulary, the segmentation step every LLM data pipeline runs before
  * token accounting. Per whitespace word: repeatedly emit the LONGEST
  * vocab piece that prefixes the remaining word; when none matches,
  * consume one character as an unknown piece (byte-fallback discipline,
  * emitted as `?c` — '?' is outside the vocab alphabet, so the join is
  * unambiguous).
  *
  * One pass per document inside the scan stage (same native-expression
  * discipline as [[MinHashSig]]): no explode, no per-token rows in any
  * exchange — the downstream aggregate sees three narrow columns. The
  * vocab rides the expression as a literal (broadcast with the plan); a
  * production vocab (30-100k pieces) would hang a trie off the same
  * ThreadLocal the md5 digest uses — the per-piece set probe here is
  * already O(maxPieceLen) per emitted piece, independent of vocab size.
  *
  * Output struct (one row-local value, no HOF re-evaluation downstream):
  *  - `n_pieces`: total pieces emitted (unknown chars count as pieces);
  *  - `n_unk`:    characters consumed by the fallback;
  *  - `joined`:   all pieces pipe-joined in order (md5 it for a
  *                whole-segmentation fingerprint).
  */
case class SubwordTokenize(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_pieces", IntegerType, nullable = false),
    StructField("n_unk", IntegerType, nullable = false),
    StructField("joined", StringType, nullable = false)))
  override def nullable: Boolean = true

  private lazy val vocab: Set[String] = {
    val arr = children(1).eval(InternalRow.empty).asInstanceOf[ArrayData]
    (0 until arr.numElements()).map(arr.getUTF8String(_).toString).toSet
  }
  private lazy val maxPieceLen: Int =
    if (vocab.isEmpty) 0 else vocab.iterator.map(_.length).max

  override def eval(input: InternalRow): Any = {
    val t = children(0).eval(input)
    if (t == null) return null
    val toks = Md5Hash.sparkTokens(t.asInstanceOf[UTF8String])
    val joined = new java.lang.StringBuilder
    var nPieces = 0
    var nUnk = 0
    var w = 0
    while (w < toks.length) {
      val word = toks(w)
      var pos = 0
      while (pos < word.length) {
        var len = math.min(maxPieceLen, word.length - pos)
        var hit: String = null
        while (hit == null && len >= 1) {
          val cand = word.substring(pos, pos + len)
          if (vocab.contains(cand)) hit = cand else len -= 1
        }
        if (joined.length > 0) joined.append('|')
        if (hit != null) { joined.append(hit); pos += hit.length }
        else { joined.append('?').append(word.charAt(pos)); pos += 1; nUnk += 1 }
        nPieces += 1
      }
      w += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nPieces, nUnk, UTF8String.fromString(joined.toString)))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object SubwordTokenizer {

  def tokenize(text: Column, vocab: Seq[String]): Column =
    ColumnBridge.native(SubwordTokenize(_), text, typedLit(vocab))
}
