package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions.{regexp_replace, trim}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode canonicalization for corpus text — the first step of every
  * published cleaning recipe (CCNet normalizes before hashing; two
  * renderings of "é" — U+00E9 vs e + U+0301 — must dedup, tokenize, and
  * count as ONE string, and raw crawl text carries both). NFC (canonical
  * composition) is the right form for training data: it is lossless
  * (unlike NFKC, which folds ligatures/width and destroys content) and
  * idempotent, and both the JVM (`java.text.Normalizer`) and DuckDB
  * (`nfc_normalize`, utf8proc) implement the same Unicode 15 algorithm,
  * so the oracle compares byte-for-byte.
  *
  * Fully codegen (a `defineCodeGen` one-liner, not CodegenFallback): the
  * normalizer sits inside whole-stage codegen in the scan stage, and
  * `Normalizer.isNormalized` short-circuits already-NFC text (the vast
  * majority of real corpora) without allocating, so the hot path is a
  * single scan of the char array.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any =
    UnicodeNorm.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.UnicodeNorm.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnicodeNorm {

  /** NFC-normalize a UTF8String; returns the input object unchanged when
    * already normalized (no copy — the common case for clean corpora).
    * Called from generated code: must stay public and static-shaped.
    */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  def nfcNormalize(text: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(text)))

  /** The full canonicalization ladder corpus ingest applies before any
    * hashing or tokenization: NFC composition, then C0/C1 control and
    * zero-width character removal (ZWSP/ZWNJ/ZWJ/BOM — invisible bytes
    * that break exact dedup), then whitespace collapse + trim. Order
    * matters: controls are stripped AFTER composition so a combining
    * mark never reattaches across a removed character, and whitespace
    * collapses last so control removal can't create double spaces.
    * Mirrors in DuckDB as nfc_normalize + the same two regexp_replace.
    */
  def canonicalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(nfcNormalize(text),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\u200B\\u200C\\u200D\\uFEFF]", ""),
      "\\s+", " "))
}
