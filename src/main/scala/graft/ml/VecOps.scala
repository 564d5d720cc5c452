package graft.ml

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.text.TextSketchCodegen
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType}

/** `vec_dot(a, b)` — dot product of two float/double vectors as a native
  * Catalyst Expression. Numerically IDENTICAL to the sequential
  * `aggregate(zip_with(...))` fold (left-to-right double additions starting
  * from 0.0, matching DuckDB's `list_reduce`), but executed as one tight
  * JVM loop over columnar ArrayData instead of interpreted per-element
  * lambdas — the difference between ~20µs and ~100ns per pair inside
  * quadratic candidate joins.
  */
case class VecDot(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elem(arr: ArrayData, i: Int, et: DataType): Double = et match {
    case FloatType => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
  }

  private lazy val elemTypes = children.map(
    _.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType)

  override def eval(input: InternalRow): Any = {
    val av = children(0).eval(input)
    val bv = children(1).eval(input)
    if (av == null || bv == null) return null
    kernel(av.asInstanceOf[ArrayData], bv.asInstanceOf[ArrayData])
  }

  /** Row kernel, public for generated code. */
  def kernel(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    val (ta, tb) = (elemTypes(0), elemTypes(1))
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += elem(a, i, ta) * elem(b, i, tb)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    TextSketchCodegen.primitiveKernelCall(ctx, ev, this, "kernel",
      children, "double", "0.0")

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** `vec_argmax_cell(vec, v_nrm, codebook)` — IVF coarse-quantizer cell
  * assignment as a row-local native Expression: loops a (small, literal)
  * codebook per row and returns the id of the max-cosine centroid
  * (tie → lowest id, matching `ROW_NUMBER() OVER (ORDER BY sim DESC, id)`).
  *
  * This is the inverted-file scale shape: with the codebook broadcast as a
  * literal, assignment needs NO join and NO shuffle — the previous
  * crossJoin+window formulation pushed |codebook| × |corpus| rows through
  * a full exchange just to pick a per-row maximum.
  *
  * `codebook` (child 2) must be a foldable literal
  * `array<struct<id: bigint, emb: array<double>, nrm: double>>`,
  * sorted by id ascending (the strictly-greater comparison then keeps the
  * lowest id on cosine ties). Dot products are sequential left-to-right
  * double folds — bit-identical to [[VecDot]] and DuckDB's `list_reduce`.
  */
case class VecArgmaxCell(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true

  private lazy val vecElemType =
    children(0).dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType

  /** Parsed once: the codebook child is a foldable literal. */
  private lazy val codebook: Array[(Long, Array[Double], Double)] = {
    val arr = children(2).eval(InternalRow.empty).asInstanceOf[ArrayData]
    (0 until arr.numElements()).map { i =>
      val row = arr.getStruct(i, 3)
      (row.getLong(0), row.getArray(1).toDoubleArray(), row.getDouble(2))
    }.toArray.sortBy(_._1)
  }

  override def eval(input: InternalRow): Any = {
    val v = children(0).eval(input)
    val nrm = children(1).eval(input)
    if (v == null || nrm == null) return null
    kernel(v.asInstanceOf[ArrayData], nrm.asInstanceOf[Double])
  }

  /** Row kernel, public for generated code. Null on an empty codebook. */
  def kernel(a: ArrayData, vNrm: Double): java.lang.Long = {
    val isFloat = vecElemType == FloatType
    if (codebook.isEmpty) return null
    var bestId = -1L
    var bestSim = 0.0
    var first = true
    var c = 0
    while (c < codebook.length) {
      val (id, emb, cNrm) = codebook(c)
      val n = math.min(a.numElements(), emb.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += (if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)) * emb(i)
        i += 1
      }
      val sim = acc / (vNrm * cNrm)
      // SQL window ordering (sim DESC, id ASC) sorts NaN GREATEST in both
      // Spark and DuckDB — e.g. a zero-norm vector makes every sim NaN and
      // the oracle assigns the lowest id, so NaN must beat non-NaN here
      // and the first (lowest-id, codebook is sorted) entry wins ties
      val better =
        if (first) true
        else if (sim.isNaN) !bestSim.isNaN // NaN displaces non-NaN, ties keep first
        else !bestSim.isNaN && sim > bestSim
      if (better) { bestSim = sim; bestId = id }
      first = false
      c += 1
    }
    java.lang.Long.valueOf(bestId)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    TextSketchCodegen.boxedKernelCall(ctx, ev, this, "kernel",
      children.take(2), "java.lang.Long", "long", "-1L", "longValue")

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** `pq_sqdist(sub, centroid)` — squared L2 distance between a
  * double-array column and a LITERAL centroid as one native loop.
  * Bit-identical to `aggregate(zip_with(sub, lit(c), (x,y)=>(x-y)*(x-y)),
  * 0.0, (acc,x)=>acc+x)` including its null semantics: a null array or a
  * length mismatch (zip_with pads the shorter side with null, poisoning
  * the fold) or a null element yields null; the fold runs left-to-right
  * from 0.0. The HOF chain it replaces is CodegenFallback with an
  * interpreted lambda frame PER ELEMENT — this is the PQ training/encode
  * hot loop (M×K of these per row).
  */
case class PqSqDist(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private lazy val centroid: Array[Double] = {
    val arr = children(1).eval(InternalRow.empty).asInstanceOf[ArrayData]
    arr.toDoubleArray()
  }

  override def eval(input: InternalRow): Any = {
    val v = children(0).eval(input)
    if (v == null) return null
    kernel(v.asInstanceOf[ArrayData])
  }

  /** Row kernel, public for generated code. Boxed: null on the zip_with
    * length-mismatch / null-element cases.
    */
  def kernel(a: ArrayData): java.lang.Double =
    PqMath.sqDist(a, centroid).asInstanceOf[java.lang.Double]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    TextSketchCodegen.boxedKernelCall(ctx, ev, this, "kernel",
      children.take(1), "java.lang.Double", "double", "0.0", "doubleValue")

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

private[ml] object PqMath {

  /** Squared L2 with the zip_with/aggregate null semantics (see
    * [[PqSqDist]]): boxed null on length mismatch or null element.
    */
  def sqDist(a: ArrayData, c: Array[Double]): Any = {
    if (a.numElements() != c.length) return null
    var acc = 0.0
    var i = 0
    while (i < c.length) {
      if (a.isNullAt(i)) return null
      val d = a.getDouble(i) - c(i)
      acc += d * d
      i += 1
    }
    acc
  }
}

/** `pq_argmin_cell(sub, codebook)` — L2 argmin of a double-array column
  * against a LITERAL sub-codebook (array<array<double>>), as one native
  * loop. Bit-identical to the `least(dists) + when(d === minD, i)` chain
  * over [[PqSqDist]]-shaped distances it replaces:
  *  - a null distance (null array handled first; length mismatch / null
  *    element) is skipped by `least`, and its `when` arm never matches;
  *  - `least` orders NaN GREATEST (a NaN distance loses to any non-NaN
  *    and ties with NaN), and `EqualTo` treats NaN = NaN as true — so the
  *    all-NaN case picks centroid 0, matching SQL;
  *  - ties break to the LOWEST centroid index (first `when` wins);
  *  - every distance null → null.
  */
case class PqArgminCell(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true

  private lazy val codebook: Array[Array[Double]] = {
    val arr = children(1).eval(InternalRow.empty).asInstanceOf[ArrayData]
    (0 until arr.numElements())
      .map(i => arr.getArray(i).toDoubleArray()).toArray
  }

  override def eval(input: InternalRow): Any = {
    val v = children(0).eval(input)
    if (v == null) return null
    kernel(v.asInstanceOf[ArrayData])
  }

  /** Row kernel, public for generated code. Null when every distance is
    * null (the least+when chain's all-null case).
    */
  def kernel(a: ArrayData): java.lang.Long = {
    var bestIdx = -1L
    var best = 0.0
    var c = 0
    while (c < codebook.length) {
      PqMath.sqDist(a, codebook(c)) match {
        case null => ()
        case d: java.lang.Double =>
          val dv = d.doubleValue()
          // SQL least: NaN sorts greatest; first strict improvement wins,
          // so equal (incl. NaN == NaN) keeps the earlier (lower) index
          val better =
            if (bestIdx < 0L) true
            else if (dv.isNaN) false
            else best.isNaN || dv < best
          if (better) { best = dv; bestIdx = c.toLong }
      }
      c += 1
    }
    if (bestIdx < 0L) null else java.lang.Long.valueOf(bestIdx)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    TextSketchCodegen.boxedKernelCall(ctx, ev, this, "kernel",
      children.take(1), "java.lang.Long", "long", "-1L", "longValue")

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object VecOps {

  def dot(a: Column, b: Column): Column = ColumnBridge.native(VecDot(_), a, b)

  def norm(a: Column): Column = org.apache.spark.sql.functions.sqrt(dot(a, a))

  /** Row-local IVF cell assignment against a driver-collected codebook
    * (small by construction — real deployments use 4-64k cells, all
    * broadcastable). See [[VecArgmaxCell]].
    */
  def argmaxCell(vec: Column, vNrm: Column,
      codebook: Seq[(Long, Seq[Double], Double)]): Column =
    ColumnBridge.native(VecArgmaxCell(_), vec, vNrm,
      org.apache.spark.sql.functions.typedLit(codebook))

  /** Sign-bit LSH bucket over the first `bits` dimensions — a chain of
    * plain `when` comparisons, fully inside whole-stage codegen (replaces
    * the earlier interpreted `aggregate(...)` lambda; a per-row HOF is
    * re-evaluated interpretively element by element, a when-chain is not).
    */
  def signBucket(vec: Column, bits: Int): Column = {
    import org.apache.spark.sql.functions.{lit, try_element_at, when}
    // try_element_at: a vector shorter than `bits` contributes 0 for the
    // missing dimensions (null comparison -> otherwise-0) instead of
    // raising INVALID_ARRAY_INDEX under ANSI mode
    (0 until bits).map(i =>
      when(try_element_at(vec, lit(i + 1)) >= lit(0f), lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)
  }
}
