package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Johnson-Lindenstrauss sign-projection sketch for embedding columns:
  * y_j = Σ_i w_i · s(i,j) with s ∈ {±1} drawn from md5("jl#i#j") — the
  * Achlioptas (2003) database-friendly projection, content-addressed so
  * every engine, run and cluster derives the SAME matrix with no stored
  * state. Inputs quantize to w = floor(e·2^20) (IEEE-exact ×2^k), so the
  * sketch is INTEGER-exact: sums of longs commute, results are
  * bit-stable across partitionings and hash-oracle-able.
  *
  * Execution shape: ONE native Expression call per row (the VecDot
  * discipline — a tight JVM loop over columnar ArrayData). The naive
  * alternative — dims×outDims flat element_at expressions — blows
  * janino's 64 KB method limit and drops the whole stage to interpreted
  * mode; a transform() HOF puts an interpreted lambda per element in the
  * hot path. The expression sidesteps both: d·r multiply-adds per row,
  * no codegen source growth, no lambda.
  */
object RandomProjection {

  /** ±1 matrix [inputDim][outputDim], 0-based, from md5 parity. */
  def signMatrix(dims: Int, outDims: Int): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dims, outDims) { (i, j) =>
      md.reset()
      val h = md.digest(s"jl#$i#$j".getBytes("UTF-8"))
      // parity of the first hex nibble — mirrors the oracle's
      // CAST('0x' || substr(md5(...), 1, 1) AS INT) % 2
      if (((h(0) >> 4) & 0xf) % 2 == 0) 1 else -1
    }
  }

  /** Adds column `jl`: array<long> of length `outDims`. */
  def sketch(vecs: DataFrame, colName: String, dims: Int,
      outDims: Int): DataFrame = {
    require(dims >= 1 && outDims >= 1 && outDims <= dims,
      s"bad dims: $dims -> $outDims")
    val flat = signMatrix(dims, outDims).flatten.toSeq
    vecs.withColumn("jl", ColumnBridge.native(JlSketch(_),
      col(colName), typedLit(flat), lit(outDims)))
  }
}

/** `graft_jl_sketch(vec, flatSigns, outDims)` — the row-local JL kernel:
  * w_i = floor(elem_i · 2^20) as long; y_j = Σ_i w_i · signs[i·outDims+j].
  * Null vector → null sketch; a vector shorter than signs.length/outDims
  * contributes only its present dims (missing dims add nothing).
  */
case class JlSketch(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  // registered in the session function registry, so raw-SQL callers can
  // hand it anything — fail at ANALYSIS with a readable message, not at
  // runtime with a ClassCastException
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (children.length != 3)
      return TypeCheckResult.TypeCheckFailure(
        s"graft_jl_sketch expects 3 arguments (vec, flatSigns, outDims), got ${children.length}")
    children.head.dataType match {
      case ArrayType(FloatType | DoubleType, _) => ()
      case t => return TypeCheckResult.TypeCheckFailure(
        s"graft_jl_sketch: vec must be array<float> or array<double>, got ${t.simpleString}")
    }
    children(1).dataType match {
      case ArrayType(IntegerType, _) if children(1).foldable => ()
      case t => return TypeCheckResult.TypeCheckFailure(
        s"graft_jl_sketch: flatSigns must be a foldable array<int> literal, got ${t.simpleString}" +
          (if (children(1).foldable) "" else " (non-foldable)"))
    }
    children(2).dataType match {
      case IntegerType if children(2).foldable => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_jl_sketch: outDims must be a foldable int literal, got ${t.simpleString}" +
          (if (children(2).foldable) "" else " (non-foldable)"))
    }
  }

  private lazy val elemType =
    children.head.dataType.asInstanceOf[ArrayType].elementType
  private lazy val signs: Array[Int] = {
    val arr = children(1).eval(null).asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements())(arr.getInt)
  }
  private lazy val outDims: Int =
    children(2).eval(null).asInstanceOf[Int]

  override def eval(input: InternalRow): Any = {
    val v = children.head.eval(input)
    if (v == null) return null
    val arr = v.asInstanceOf[ArrayData]
    val r = outDims
    val dims = signs.length / r
    val n = math.min(arr.numElements(), dims)
    val y = new Array[Long](r)
    var i = 0
    while (i < n) {
      val e = elemType match {
        case FloatType => arr.getFloat(i).toDouble
        case _ => arr.getDouble(i)
      }
      val w = math.floor(e * 1048576.0).toLong
      var j = 0
      val base = i * r
      while (j < r) {
        if (signs(base + j) > 0) y(j) += w else y(j) -= w
        j += 1
      }
      i += 1
    }
    new GenericArrayData(y)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}
