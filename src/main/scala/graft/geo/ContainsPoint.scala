package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType}

/** `st_contains_point(geom, x, y)` — even-odd ray-casting containment as a
  * native Catalyst Expression. Semantics identical to
  * [[GeoFunctions.stContainsPoint]] (holes subtract, half-open edge
  * behavior); this form runs one tight JVM loop over the columnar
  * `ArrayData` instead of a chain of interpreted higher-order functions,
  * which matters inside nested-loop spatial joins where the predicate
  * evaluates per candidate pair.
  *
  * Envelope prefiltering deliberately stays OUT of this expression: the
  * envelope is a property of the geometry row, so the scale-correct place
  * to compute it is a projection on the (small, broadcast) polygon side —
  * see q45 — not per candidate pair inside the join condition.
  */
case class ContainsPoint(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val g = children(0).eval(input)
    val xv = children(1).eval(input)
    val yv = children(2).eval(input)
    if (g == null || xv == null || yv == null) return null
    val geom = g.asInstanceOf[ArrayData]
    val x = xv.asInstanceOf[Double]
    val y = yv.asInstanceOf[Double]
    var crossings = 0
    var r = 0
    while (r < geom.numElements()) {
      val ring = geom.getArray(r)
      val n = ring.numElements()
      var i = 0
      while (i < n - 1) {
        val p1 = ring.getArray(i)
        val p2 = ring.getArray(i + 1)
        val x1 = p1.getDouble(0); val y1 = p1.getDouble(1)
        val x2 = p2.getDouble(0); val y2 = p2.getDouble(1)
        if ((y1 > y) != (y2 > y) && x < (x2 - x1) * (y - y1) / (y2 - y1) + x1)
          crossings += 1
        i += 1
      }
      r += 1
    }
    crossings % 2 == 1
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object ContainsPoint {

  /** Column API: builds the expression directly (no registry lookup). */
  def apply(geom: Column, x: Column, y: Column): Column =
    ColumnBridge.native(ContainsPoint(_), geom, x, y)
}
