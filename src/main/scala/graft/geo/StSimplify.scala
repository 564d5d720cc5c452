package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.functions.lit

/** `st_simplify(geom, tolerance)` — Douglas–Peucker decimation of every
  * ring of the polygon encoding (`array<array<array<double>>>`), the
  * engine form of the reference's per-feature
  * `g.simplify(tolerance, preserve_topology=True)` at 0.001° after
  * reprojection (SlopeGeoJsonUploadView.py:263-264, 396-397).
  *
  * Semantics:
  *  - Rings are closed (first == last vertex). Both anchors of the
  *    initial DP segment are that shared vertex, so the split metric for
  *    the top-level call degenerates to point distance — the same
  *    closed-ring handling JTS's DouglasPeuckerSimplifier uses.
  *  - Per segment (lo, hi): the interior vertex farthest from the chord
  *    (FIRST index on ties) is kept iff its distance exceeds the
  *    tolerance, then both halves recurse. The kept set is decision-tree
  *    deterministic — independent of traversal order — which is what lets
  *    the DuckDB oracle mirror it with a recursive CTE instead of a stack.
  *  - Topology preservation, the property the reference's
  *    `preserve_topology=True` actually relies on at small tolerances: a
  *    ring is never decimated below 4 vertices (triangle + closing
  *    vertex); if DP would, the ORIGINAL ring is kept unchanged, so
  *    output polygons are always valid and holes never vanish.
  *
  * Row-local, zero shuffle, O(n²) worst-case per ring (n = vertices, tiny
  * for admin boundaries) — at 100 TB this runs inside the scan stage like
  * every other geometry expression here.
  */
case class StSimplify(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def dataType: DataType = children(0).dataType
  override def nullable: Boolean = true

  /** Tolerance resolved once — the child is a literal in every call path. */
  private lazy val tolerance: Double =
    children(1).eval(InternalRow.empty) match {
      case d: java.lang.Double => d
      case d: java.math.BigDecimal => d.doubleValue()
      case o: org.apache.spark.sql.types.Decimal => o.toDouble
      // SQL integer/float literals (st_simplify(g, 0) is the natural way
      // to spell the reference's no-op short-circuit) are numbers too
      case n: java.lang.Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"st_simplify: tolerance must be a numeric literal, got $other")
    }

  override def eval(input: InternalRow): Any = {
    val g = children(0).eval(input)
    if (g == null) return null
    if (tolerance <= 0.0) return g // reference short-circuit (":263")
    val rings = g.asInstanceOf[ArrayData]
    val outRings = new Array[Any](rings.numElements())
    var r = 0
    while (r < rings.numElements()) {
      outRings(r) = simplifyRing(rings.getArray(r))
      r += 1
    }
    new GenericArrayData(outRings)
  }

  private def simplifyRing(ring: ArrayData): GenericArrayData = {
    val n = ring.numElements()
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    var i = 0
    while (i < n) {
      val p = ring.getArray(i)
      xs(i) = p.getDouble(0)
      ys(i) = p.getDouble(1)
      i += 1
    }
    val keep = new Array[Boolean](n)
    if (n > 0) { keep(0) = true; keep(n - 1) = true }
    if (n > 2) dp(xs, ys, 0, n - 1, keep)
    var kept = 0
    i = 0
    while (i < n) { if (keep(i)) kept += 1; i += 1 }
    // preserve topology: a ring below triangle+closing stays as-is
    if (kept < 4) {
      val outPts = new Array[Any](n)
      i = 0
      while (i < n) {
        outPts(i) = new GenericArrayData(Array[Any](xs(i), ys(i)))
        i += 1
      }
      return new GenericArrayData(outPts)
    }
    val outPts = new Array[Any](kept)
    var o = 0
    i = 0
    while (i < n) {
      if (keep(i)) {
        outPts(o) = new GenericArrayData(Array[Any](xs(i), ys(i)))
        o += 1
      }
      i += 1
    }
    new GenericArrayData(outPts)
  }

  /** Recursive split; first-index-max tie-break, strict `> tolerance`. */
  private def dp(xs: Array[Double], ys: Array[Double],
      lo: Int, hi: Int, keep: Array[Boolean]): Unit = {
    if (hi - lo < 2) return
    var best = -1.0
    var idx = -1
    var i = lo + 1
    while (i < hi) {
      val d = chordDist(xs(i), ys(i), xs(lo), ys(lo), xs(hi), ys(hi))
      if (d > best) { best = d; idx = i }
      i += 1
    }
    if (best > tolerance) {
      keep(idx) = true
      dp(xs, ys, lo, idx, keep)
      dp(xs, ys, idx, hi, keep)
    }
  }

  /** Distance from (px,py) to the chord (x1,y1)-(x2,y2); degenerates to
    * point distance when the chord endpoints coincide (closed-ring top
    * call). Formula order mirrors the oracle SQL exactly so both engines
    * produce bit-identical doubles.
    */
  private def chordDist(px: Double, py: Double,
      x1: Double, y1: Double, x2: Double, y2: Double): Double = {
    val dx = x2 - x1
    val dy = y2 - y1
    if (dx == 0.0 && dy == 0.0)
      math.sqrt((px - x1) * (px - x1) + (py - y1) * (py - y1))
    else
      math.abs(dx * (py - y1) - dy * (px - x1)) / math.sqrt(dx * dx + dy * dy)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object StSimplify {

  def apply(geom: Column, tolerance: Double): Column =
    ColumnBridge.native(StSimplify(_), geom, lit(tolerance))
}
