package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{lit, typedLit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared `doGenCode` shapes for the native kernel expressions: the row
  * kernel stays one plain JVM method, referenced from the generated stage
  * via `addReferenceObj` — what codegen buys is NOT a faster kernel but
  * keeping the SURROUNDING projection (other columns, filters, tokenize
  * chains) inside one whole-stage span. A `CodegenFallback` marker on any
  * single expression blacks out whole-stage codegen for its entire
  * projection (CollapseCodegenStages refuses the plan), which is why each
  * of these implements a real `doGenCode` instead.
  */
private[graft] object TextSketchCodegen {

  val ArrayDataType = "org.apache.spark.sql.catalyst.util.ArrayData"

  /** Object-returning kernel with any-null-in → null-out semantics; a
    * null kernel RETURN is also a null result (e.g. MinHashSig below k
    * tokens). `args` are the non-literal children (literal params are
    * folded into the expression instance itself).
    */
  def nullableKernelCall(ctx: CodegenContext, ev: ExprCode, expr: Expression,
      method: String, args: Seq[Expression], retType: String): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("nativeExpr", expr)
    val cls = expr.getClass.getName
    val cs = args.map(_.genCode(ctx))
    val anyNull = cs.map(c => s"${c.isNull}").mkString(" || ")
    val vals = cs.map(c => s"${c.value}").mkString(", ")
    val childCode = cs.map(_.code).reduce(_ + _)
    ev.copy(code = childCode + code"""
      boolean ${ev.isNull} = true;
      $retType ${ev.value} = null;
      if (!($anyNull)) {
        ${ev.value} = ($retType) (($cls) $ref).$method($vals);
        ${ev.isNull} = (${ev.value} == null);
      }""")
  }

  /** Primitive-returning kernel (never null given non-null inputs) with
    * any-null-in → null-out semantics.
    */
  def primitiveKernelCall(ctx: CodegenContext, ev: ExprCode, expr: Expression,
      method: String, args: Seq[Expression], javaType: String,
      default: String): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("nativeExpr", expr)
    val cls = expr.getClass.getName
    val cs = args.map(_.genCode(ctx))
    val anyNull = cs.map(c => s"${c.isNull}").mkString(" || ")
    val vals = cs.map(c => s"${c.value}").mkString(", ")
    val childCode = cs.map(_.code).reduce(_ + _)
    ev.copy(code = childCode + code"""
      boolean ${ev.isNull} = ($anyNull);
      $javaType ${ev.value} = $default;
      if (!${ev.isNull}) {
        ${ev.value} = (($cls) $ref).$method($vals);
      }""")
  }

  /** Kernel returning a BOXED primitive that may be null even for
    * non-null inputs (PqSqDist's length-mismatch null, PqArgminCell's
    * empty-codebook null) — the expression's SQL type stays primitive, so
    * the generated slot is primitive with a boxed intermediate.
    */
  def boxedKernelCall(ctx: CodegenContext, ev: ExprCode, expr: Expression,
      method: String, args: Seq[Expression], boxedType: String,
      javaType: String, default: String, unbox: String): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("nativeExpr", expr)
    val cls = expr.getClass.getName
    val cs = args.map(_.genCode(ctx))
    val anyNull = cs.map(c => s"${c.isNull}").mkString(" || ")
    val vals = cs.map(c => s"${c.value}").mkString(", ")
    val childCode = cs.map(_.code).reduce(_ + _)
    val boxed = ctx.freshName("boxed")
    ev.copy(code = childCode + code"""
      boolean ${ev.isNull} = true;
      $javaType ${ev.value} = $default;
      if (!($anyNull)) {
        $boxedType $boxed = ($boxedType) (($cls) $ref).$method($vals);
        if ($boxed != null) {
          ${ev.isNull} = false;
          ${ev.value} = $boxed.$unbox();
        }
      }""")
  }
}

/** Native per-document sketch expressions for the dedup pipelines: the
  * whole signature computes in ONE pass over the text inside the scan
  * stage — no explode, no shuffle of per-token/per-shingle rows. At 100 TB
  * this removes the dominant exchange from both MinHash and SimHash: the
  * only remaining shuffle is the (narrow) band-bucket candidate join.
  *
  * Parity contract (bit-for-bit with the DuckDB oracle and the previous
  * explode+aggregate formulation):
  *  - tokenization = `split(trim(text), "\\s+")`: trim strips SPACES only
  *    (Spark/DuckDB `trim` semantics, NOT Java's `String.trim`), split is
  *    the Java regex with limit -1;
  *  - hash = first 15 md5 hex chars parsed base-16 (a 60-bit non-negative
  *    long — engine-portable, mirrors `CAST('0x'||substr(md5(x),1,15) AS
  *    BIGINT)`);
  *  - minhash component i = min over shingles of (h XOR seed_i) in signed
  *    long order (values are < 2^63, so signed = unsigned order);
  *  - simhash bit b set iff 2 * ones(b) >= tokens (ties -> 1).
  */
/** Public (not file-private) so whole-stage-generated code can call the
  * static forwarders — [[Md5PrefixLong.doGenCode]] emits
  * `graft.text.Md5Hash.firstN(bytes, n)` into the compiled stage.
  */
object Md5Hash {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5(s) as a 60-bit long. */
  def first15(s: String): Long =
    firstN(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), 15)

  /** First `nHex` hex chars of md5(bytes) parsed base 16 — the direct
    * byte-math form of `conv(substring(md5(x), 1, nHex), 16, 10)`: same
    * value (md5 hex is big-endian nibble order, conv parses base-16
    * left-to-right), no hex-string materialization, no base-conversion
    * parse. nHex <= 15 keeps the value inside a non-negative long.
    */
  def firstN(bytes: Array[Byte], nHex: Int): Long = {
    val d = digest.get()
    d.reset()
    val b = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < nHex) {
      val nib =
        if ((i & 1) == 0) (b(i >> 1) & 0xF0) >>> 4
        else b(i >> 1) & 0x0F
      v = (v << 4) | nib
      i += 1
    }
    v
  }

  /** Spark `split(trim(text), "\s+")` — trim strips ' ' only. */
  def sparkTokens(text: UTF8String): Array[String] =
    text.trim().toString.split("\\s+", -1)
}

/** `minhash_sig(text, k, seeds)` → array<bigint> of `seeds.length` MinHash
  * components over word k-shingles (k-from-1 xor construction: one md5 per
  * shingle, xor-mixed per seed). NULL when the document has fewer than k
  * tokens (such docs have no shingles and can't participate in LSH).
  */
case class MinHashSig(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  private lazy val k: Int =
    children(1).eval(InternalRow.empty).asInstanceOf[Int]
  private lazy val seeds: Array[Long] = {
    val arr = children(2).eval(InternalRow.empty).asInstanceOf[ArrayData]
    arr.toLongArray()
  }

  override def eval(input: InternalRow): Any = {
    val t = children(0).eval(input)
    if (t == null) return null
    kernel(t.asInstanceOf[UTF8String])
  }

  /** Row kernel, public for generated code. May return null (< k tokens). */
  def kernel(text: UTF8String): ArrayData = {
    val toks = Md5Hash.sparkTokens(text)
    if (toks.length < k) return null
    val mins = Array.fill(seeds.length)(Long.MaxValue)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val h = Md5Hash.first15(sb.toString)
      var s = 0
      while (s < seeds.length) {
        val x = h ^ seeds(s)
        if (x < mins(s)) mins(s) = x
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    TextSketchCodegen.nullableKernelCall(ctx, ev, this, "kernel",
      children.take(1), TextSketchCodegen.ArrayDataType)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** `word_shingles(text, k)` → array<string> of space-joined word
  * k-shingles (empty when the doc has < k tokens) — the native form of
  * TextFunctions.shingles∘tokens: one pass, no interpreted HOF lambdas
  * (measured 5x on the corpus shingling stage).
  */
case class WordShingles(children: Seq[Expression]) extends Expression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullable: Boolean = true

  private lazy val k: Int =
    children(1).eval(InternalRow.empty).asInstanceOf[Int]

  override def eval(input: InternalRow): Any = {
    val t = children(0).eval(input)
    if (t == null) return null
    kernel(t.asInstanceOf[UTF8String])
  }

  /** Row kernel, public for generated code. */
  def kernel(text: UTF8String): ArrayData = {
    val toks = Md5Hash.sparkTokens(text)
    if (toks.length < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - k + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    TextSketchCodegen.nullableKernelCall(ctx, ev, this, "kernel",
      children.take(1), TextSketchCodegen.ArrayDataType)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** `simhash60(text)` → 60-bit SimHash fingerprint: every whitespace token
  * votes its 60 hash bits +1/-1; bit set on a non-negative sum.
  */
case class SimHash60(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val t = children(0).eval(input)
    if (t == null) return null
    kernel(t.asInstanceOf[UTF8String])
  }

  /** Row kernel, public for generated code. */
  def kernel(text: UTF8String): Long = {
    val toks = Md5Hash.sparkTokens(text)
    val ones = new Array[Int](60)
    var i = 0
    while (i < toks.length) {
      val h = Md5Hash.first15(toks(i))
      var b = 0
      while (b < 60) {
        if (((h >>> b) & 1L) == 1L) ones(b) += 1
        b += 1
      }
      i += 1
    }
    val n = toks.length
    var fp = 0L
    var b = 0
    while (b < 60) {
      if (2 * ones(b) >= n) fp |= (1L << b)
      b += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    TextSketchCodegen.primitiveKernelCall(ctx, ev, this, "kernel",
      children.take(1), "long", "0L")

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** `shingle_hash_set(text, k)` → SORTED DISTINCT array<long> of the
  * 60-bit md5 hashes of the word k-shingles. The per-doc normal form for
  * exact pairwise Jaccard: pair joins carry 8-byte longs instead of
  * shingle strings (~5x narrower shuffle rows), and sortedness lets the
  * per-pair intersection be a primitive merge scan instead of a hash
  * probe over strings. Hash = the same md5-prefix construction as
  * MinHashSig, so the oracle mirrors it with the identical SQL ladder.
  */
case class ShingleHashSet(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  private lazy val k: Int =
    children(1).eval(InternalRow.empty).asInstanceOf[Int]

  override def eval(input: InternalRow): Any = {
    val t = children(0).eval(input)
    if (t == null) return null
    kernel(t.asInstanceOf[UTF8String])
  }

  /** Row kernel, public for generated code. */
  def kernel(text: UTF8String): ArrayData = {
    val toks = Md5Hash.sparkTokens(text)
    if (toks.length < k) return new GenericArrayData(Array.empty[Any])
    val n = toks.length - k + 1
    val hs = new Array[Long](n)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      hs(i) = Md5Hash.first15(sb.toString)
      i += 1
    }
    java.util.Arrays.sort(hs)
    // dedup in place on the sorted array
    var w = 0
    i = 0
    while (i < n) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    val out = new Array[Any](w)
    i = 0
    while (i < w) { out(i) = hs(i); i += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    TextSketchCodegen.nullableKernelCall(ctx, ev, this, "kernel",
      children.take(1), TextSketchCodegen.ArrayDataType)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** `sorted_intersect_count(a, b)` → int: |a ∩ b| for two SORTED distinct
  * long arrays via a primitive merge scan — O(|a|+|b|) with no per-call
  * allocation, the per-pair kernel of blocked exact Jaccard.
  */
case class SortedIntersectCount(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val av = children(0).eval(input)
    val bv = children(1).eval(input)
    if (av == null || bv == null) return null
    kernel(av.asInstanceOf[ArrayData], bv.asInstanceOf[ArrayData])
  }

  /** Row kernel, public for generated code. */
  def kernel(a: ArrayData, b: ArrayData): Int = {
    var i = 0; var j = 0; var c = 0
    val na = a.numElements(); val nb = b.numElements()
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    TextSketchCodegen.primitiveKernelCall(ctx, ev, this, "kernel",
      children, "int", "0")

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** `md5_prefix_long(s, nHex)` → first `nHex` (≤ 15) hex chars of md5(s)
  * parsed base 16, as one native expression. Bit-identical to the
  * `conv(substring(md5(s), 1, nHex), 16, 10).cast("long")` chain it
  * replaces (guide §4: the chain materializes a 32-char hex string,
  * substrings it, and reparses base 16 PER ROW — pure allocation that the
  * byte-math form skips; this hash sits under every gram/bucket/bloom
  * path, so it is the hottest scalar in the text tier).
  *
  * Implements [[doGenCode]] (not CodegenFallback): as a fallback this one
  * expression blacked out whole-stage codegen for every projection that
  * contained it (~25 query rows' scan stages). The generated code is a
  * single static call into [[Md5Hash.firstN]] — the md5 kernel itself is
  * the same either way; what codegen buys is keeping the SURROUNDING
  * stage (tokenize, filters, other columns) inside one compiled span.
  */
case class Md5PrefixLong(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  private lazy val nHex: Int =
    children(1).eval(InternalRow.empty).asInstanceOf[Int]

  override def eval(input: InternalRow): Any = {
    val s = children(0).eval(input)
    if (s == null) return null
    Md5Hash.firstN(s.asInstanceOf[UTF8String].getBytes, nHex)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = children(0).genCode(ctx)
    // nHex is a literal by construction (TextSketch.md5PrefixLong) — fold
    // it into the generated source as a constant
    val n = nHex
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      long ${ev.value} = 0L;
      if (!${ev.isNull}) {
        ${ev.value} = graft.text.Md5Hash.firstN(${c.value}.getBytes(), $n);
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** `array_bigrams(toks)` → array<string> of space-joined adjacent token
  * pairs (empty below 2 tokens; null input → empty). One native pass —
  * replaces the `transform(sequence(1, n-1), i -> concat_ws(" ",
  * slice(toks, i, 2)))` HOF chain, which allocates a slice array plus an
  * interpreted lambda frame per bigram (measured: the dominant stage of
  * the q267 classifier forward pass).
  */
case class ArrayBigrams(children: Seq[Expression]) extends Expression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    kernel(children(0).eval(input).asInstanceOf[ArrayData])

  /** Row kernel, public for generated code. Null toks → EMPTY (the
    * expression is non-nullable — the HOF chain's `otherwise(array())`).
    */
  def kernel(toks: ArrayData): ArrayData = {
    if (toks == null) return new GenericArrayData(Array.empty[Any])
    val n = toks.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var prev = toks.getUTF8String(0)
    var i = 1
    while (i < n) {
      val cur = toks.getUTF8String(i)
      out(i - 1) = UTF8String.concat(prev, UTF8String.fromString(" "), cur)
      prev = cur
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("nativeExpr", this)
    val c = children(0).genCode(ctx)
    val ad = TextSketchCodegen.ArrayDataType
    ev.copy(
      code = c.code + code"""
        $ad ${ev.value} = ((graft.text.ArrayBigrams) $ref).kernel(
          ${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** `term_postings(toks)` → array<struct<term string, tf long,
  * positions array<int>>> — the per-document posting lists of a token
  * array, computed row-locally in ONE pass (first-occurrence order;
  * positions ascending by construction). Replaces the inverted-index
  * build's posexplode → groupBy(term, doc_id) → collect_list shuffle:
  * the grouping keys include the doc id, so the aggregation is perfectly
  * document-local and never needed an exchange at all (guide §2.3/§2.4 —
  * the map-side-aggregation limit case). tf and the sorted positions are
  * bit-identical to the groupBy form.
  */
case class TermPostings(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("tf", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("positions",
        ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false),
        nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val t = children(0).eval(input)
    if (t == null) return null
    kernel(t.asInstanceOf[ArrayData])
  }

  /** Row kernel, public for generated code. */
  def kernel(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    // first-occurrence order, positions accumulated ascending
    val order = new java.util.LinkedHashMap[UTF8String, java.util.ArrayList[Int]]()
    var i = 0
    while (i < n) {
      val term = toks.getUTF8String(i).clone()
      var ps = order.get(term)
      if (ps == null) { ps = new java.util.ArrayList[Int](4); order.put(term, ps) }
      ps.add(i)
      i += 1
    }
    val out = new Array[Any](order.size())
    val it = order.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      val ps = e.getValue
      val posArr = new Array[Any](ps.size())
      var p = 0
      while (p < ps.size()) { posArr(p) = ps.get(p); p += 1 }
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey, ps.size().toLong, new GenericArrayData(posArr)))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    TextSketchCodegen.nullableKernelCall(ctx, ev, this, "kernel",
      children.take(1), TextSketchCodegen.ArrayDataType)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** `window_hash_groups(text, width, stride, tail, nHex)` →
  * array<struct<h long, iis array<int>, k long>> — the per-document
  * GROUPED window/segment hashes of a text column, computed row-locally
  * in ONE pass. Windows sit at ordinals o = 0, 1, ... with token start
  * o*stride and length `width` (truncated at the end when `tail`, else
  * only full windows emit — the `wordShingles`/`shingles` boundary
  * semantics); h is the first `nHex` md5 hex chars of the space-joined
  * window parsed base 16 (the [[Md5PrefixLong]] value); groups are per
  * distinct h in first-occurrence order with ordinals ascending and
  * k = |iis|.
  *
  * Replaces the span/chunk dedup family's
  * `posexplode(shingles) → groupBy(id.., h) → collect_list/count`
  * formulation: that grouping's key set contains the document id, so the
  * aggregation is perfectly document-local and never needed an exchange
  * (guide §2.3/§2.4 — the same map-side-aggregation limit case as
  * [[TermPostings]]); the corpus-window-grain exchange AND the
  * materialized window-string array both disappear. NULL text → NULL
  * (explode drops the row, as posexplode over a NULL shingle array did).
  */
case class WindowHashGroups(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("h", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("iis",
        ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false),
        nullable = false),
      org.apache.spark.sql.types.StructField("k", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true

  private lazy val width: Int =
    children(1).eval(InternalRow.empty).asInstanceOf[Int]
  private lazy val stride: Int =
    children(2).eval(InternalRow.empty).asInstanceOf[Int]
  private lazy val tail: Boolean =
    children(3).eval(InternalRow.empty).asInstanceOf[Boolean]
  private lazy val nHex: Int =
    children(4).eval(InternalRow.empty).asInstanceOf[Int]

  override def eval(input: InternalRow): Any = {
    val t = children(0).eval(input)
    if (t == null) return null
    kernel(t.asInstanceOf[UTF8String])
  }

  /** Row kernel, public for generated code. */
  def kernel(text: UTF8String): ArrayData = {
    val toks = Md5Hash.sparkTokens(text)
    val n = toks.length
    val order = new java.util.LinkedHashMap[java.lang.Long, java.util.ArrayList[Int]]()
    val sb = new java.lang.StringBuilder
    var o = 0
    var start = 0
    while (if (tail) start < n else start + width <= n) {
      sb.setLength(0)
      val end = math.min(start + width, n)
      var j = start
      while (j < end) {
        if (j > start) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      val h = java.lang.Long.valueOf(Md5Hash.firstN(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8), nHex))
      var ps = order.get(h)
      if (ps == null) { ps = new java.util.ArrayList[Int](2); order.put(h, ps) }
      ps.add(o)
      o += 1
      start += stride
    }
    val out = new Array[Any](order.size())
    val it = order.entrySet().iterator()
    var g = 0
    while (it.hasNext) {
      val e = it.next()
      val ps = e.getValue
      val posArr = new Array[Any](ps.size())
      var p = 0
      while (p < ps.size()) { posArr(p) = ps.get(p); p += 1 }
      out(g) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey.longValue(), new GenericArrayData(posArr),
          ps.size().toLong))
      g += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    TextSketchCodegen.nullableKernelCall(ctx, ev, this, "kernel",
      children.take(1), TextSketchCodegen.ArrayDataType)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** `span_keep_tokens(toks, drops, stride, width)` → the tokens of `toks`
  * NOT covered by any span `[i*stride, i*stride + width)` for `i` in
  * `drops` — the row-local rewrite kernel of the span/segment dedup
  * family. Replaces the interpreted
  * `filter(toks, (_, p) -> !exists(drops, i -> ...))` HOF chain, which
  * evaluated an O(|drops|) lambda per token with an interpreted frame per
  * element (O(tokens × dup-windows) on exactly the boilerplate-heavy
  * documents that have many dup windows). This kernel is O(tokens +
  * drops) via a coverage difference-array — no sortedness assumption on
  * `drops`. NULL `drops` (doc has no duplicated spans — the dominant
  * case) returns `toks` unchanged; NULL `toks` → NULL (the HOF chain's
  * semantics on both).
  */
case class SpanKeepTokens(children: Seq[Expression]) extends Expression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = true)
  override def nullable: Boolean = true

  private lazy val stride: Int =
    children(2).eval(InternalRow.empty).asInstanceOf[Int]
  private lazy val width: Int =
    children(3).eval(InternalRow.empty).asInstanceOf[Int]

  /** Row kernel, public so generated code can call it via a reference
    * object. `drops` may be null (keep everything).
    */
  def kernel(toksAny: ArrayData, dropsAny: ArrayData): ArrayData = {
    if (dropsAny == null) return toksAny
    val toks = toksAny
    val n = toks.numElements()
    val m = dropsAny.numElements()
    // coverage difference-array: +1 at span start, -1 past span end
    val diff = new Array[Int](n + 1)
    var j = 0
    while (j < m) {
      val s0 = dropsAny.getInt(j).toLong * stride
      if (s0 < n) {
        val s = math.max(0L, s0).toInt
        val e = math.min(n.toLong, s0 + width).toInt
        if (s < e) { diff(s) += 1; diff(e) -= 1 }
      }
      j += 1
    }
    val out = new java.util.ArrayList[Any](n)
    var cov = 0
    var p = 0
    while (p < n) {
      cov += diff(p)
      if (cov == 0) out.add(toks.getUTF8String(p))
      p += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def eval(input: InternalRow): Any = {
    val t = children(0).eval(input)
    if (t == null) return null
    val d = children(1).eval(input)
    kernel(t.asInstanceOf[ArrayData],
      if (d == null) null else d.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("spanKeep", this)
    val t = children(0).genCode(ctx)
    val d = children(1).genCode(ctx)
    val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(code = code"""
      ${t.code}
      boolean ${ev.isNull} = ${t.isNull};
      $ad ${ev.value} = null;
      if (!${ev.isNull}) {
        ${d.code}
        ${ev.value} = ((graft.text.SpanKeepTokens) $ref).kernel(
          ${t.value}, ${d.isNull} ? null : ${d.value});
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object TextSketch {

  import org.apache.spark.sql.graft.ColumnBridge

  def minhashSig(text: Column, k: Int, seeds: Seq[Long]): Column =
    ColumnBridge.native(MinHashSig(_), text, lit(k), typedLit(seeds))

  def simhash60(text: Column): Column = ColumnBridge.native(SimHash60(_), text)

  def wordShingles(text: Column, k: Int): Column =
    ColumnBridge.native(WordShingles(_), text, lit(k))

  def shingleHashSet(text: Column, k: Int): Column =
    ColumnBridge.native(ShingleHashSet(_), text, lit(k))

  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.native(SortedIntersectCount(_), a, b)

  // ---- natives with no SQL name (Column API only)

  /** First `nHex` (≤ 15) md5 hex chars of `s` as a long — the native,
    * bit-identical form of `conv(substring(md5(s), 1, nHex), 16, 10)`.
    */
  def md5PrefixLong(s: Column, nHex: Int): Column = {
    require(nHex >= 1 && nHex <= 15, s"nHex out of long range: $nHex")
    ColumnBridge.column(Md5PrefixLong(Seq(
      ColumnBridge.expression(s.cast("string")),
      org.apache.spark.sql.catalyst.expressions.Literal(nHex))))
  }

  /** Space-joined adjacent token pairs, one native pass (empty below 2
    * tokens; null → empty).
    */
  def arrayBigrams(toks: Column): Column =
    ColumnBridge.column(ArrayBigrams(Seq(ColumnBridge.expression(toks))))

  /** Per-document posting lists of a token array — see [[TermPostings]]. */
  def termPostings(toks: Column): Column =
    ColumnBridge.column(TermPostings(Seq(ColumnBridge.expression(toks))))

  /** Tokens not covered by any span `[i*stride, i*stride + width)`,
    * `i` ∈ `drops` — see [[SpanKeepTokens]]. NULL drops keeps everything.
    */
  def spanKeepTokens(toks: Column, drops: Column, stride: Int,
      width: Int): Column = {
    require(stride >= 1 && width >= 1,
      s"stride/width must be >= 1: $stride/$width")
    import org.apache.spark.sql.catalyst.expressions.Literal
    ColumnBridge.column(SpanKeepTokens(Seq(
      ColumnBridge.expression(toks), ColumnBridge.expression(drops),
      Literal(stride), Literal(width))))
  }

  /** Per-document grouped window/segment hashes — see [[WindowHashGroups]]. */
  def windowHashGroups(text: Column, width: Int, stride: Int, tail: Boolean,
      nHex: Int = 15): Column = {
    require(width >= 1 && stride >= 1, s"width/stride must be >= 1: $width/$stride")
    require(nHex >= 1 && nHex <= 15, s"nHex out of long range: $nHex")
    import org.apache.spark.sql.catalyst.expressions.Literal
    ColumnBridge.column(WindowHashGroups(Seq(
      ColumnBridge.expression(text.cast("string")),
      Literal(width), Literal(stride), Literal(tail), Literal(nHex))))
  }
}
