package graft.geo

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** `st_rect_clip_area(geom, minx, miny, maxx, maxy)` — area of a polygon
  * clipped to an axis-aligned rectangle (Sutherland–Hodgman against the 4
  * half-planes + shoelace), the reference's bbox-extraction intersection
  * (geoJson_slope_etl_view.py:457-555, SURVEY.md §2.5 J3).
  *
  * A native Catalyst `Expression` (CodegenFallback) rather than a Scala
  * UDF: operates directly on the columnar `ArrayData` without
  * Row→case-class deserialization, is null-strict, and keeps the plan
  * inspectable. Holes (rings beyond the first) subtract their clipped
  * area. Reached from SQL through [[graft.sql.NativeCatalog]] and from
  * Scala through [[GeoClip.rectIntersectionArea]].
  */
case class RectClipArea(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.contains(null)) return null
    val geom = vals.head.asInstanceOf[ArrayData]
    val Seq(minx, miny, maxx, maxy) =
      vals.tail.map(_.asInstanceOf[Double])

    var total = 0.0
    var r = 0
    while (r < geom.numElements()) {
      val ring = geom.getArray(r)
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
      val a = clippedArea(xs, ys, minx, miny, maxx, maxy)
      total += (if (r == 0) a else -a)
      r += 1
    }
    math.max(total, 0.0)
  }

  /** Sutherland–Hodgman clip of one ring against the rect, then |shoelace|. */
  private def clippedArea(xs0: Array[Double], ys0: Array[Double],
      minx: Double, miny: Double, maxx: Double, maxy: Double): Double = {
    var xs = xs0
    var ys = ys0
    // clip against each half-plane in sequence: left, right, bottom, top
    def clip(inside: (Double, Double) => Boolean,
        intersect: (Double, Double, Double, Double) => (Double, Double)): Unit = {
      val n = xs.length
      if (n == 0) return
      val outX = new scala.collection.mutable.ArrayBuffer[Double](n + 4)
      val outY = new scala.collection.mutable.ArrayBuffer[Double](n + 4)
      var i = 0
      while (i < n) {
        val cx = xs(i); val cy = ys(i)
        val px = xs((i + n - 1) % n); val py = ys((i + n - 1) % n)
        val cIn = inside(cx, cy)
        val pIn = inside(px, py)
        if (cIn) {
          if (!pIn) {
            val (ix, iy) = intersect(px, py, cx, cy)
            outX += ix; outY += iy
          }
          outX += cx; outY += cy
        } else if (pIn) {
          val (ix, iy) = intersect(px, py, cx, cy)
          outX += ix; outY += iy
        }
        i += 1
      }
      xs = outX.toArray
      ys = outY.toArray
    }
    def atX(x: Double)(x1: Double, y1: Double, x2: Double, y2: Double) = {
      val t = (x - x1) / (x2 - x1); (x, y1 + t * (y2 - y1))
    }
    def atY(y: Double)(x1: Double, y1: Double, x2: Double, y2: Double) = {
      val t = (y - y1) / (y2 - y1); (x1 + t * (x2 - x1), y)
    }
    clip((x, _) => x >= minx, atX(minx))
    clip((x, _) => x <= maxx, atX(maxx))
    clip((_, y) => y >= miny, atY(miny))
    clip((_, y) => y <= maxy, atY(maxy))
    val n = xs.length
    if (n < 3) return 0.0
    var area = 0.0
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      area += xs(i) * ys(j) - xs(j) * ys(i)
      i += 1
    }
    math.abs(area) / 2
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object GeoClip {

  /** Column API: builds [[RectClipArea]] directly (no registry lookup). */
  def rectIntersectionArea(geom: Column, minx: Column, miny: Column,
      maxx: Column, maxy: Column): Column =
    ColumnBridge.native(RectClipArea(_), geom, minx, miny, maxx, maxy)
}

/** `spark.sql.extensions=graft.geo.GraftExtensions` injector — the
  * standing registration path: every entry of [[graft.sql.NativeCatalog]]
  * plus [[SpatialFilterRule]]. [[graft.GraftSession]] builds with it; a
  * session that existed before it could run gets the same surface from
  * [[graft.GraftSession.create]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.sql.NativeCatalog.inject(ext)
}
