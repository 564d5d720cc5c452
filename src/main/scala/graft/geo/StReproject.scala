package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.functions.lit

/** `st_reproject(geom, src_epsg)` — column-level geometry reprojection to
  * WGS84 as a native Catalyst Expression: walks the nested polygon encoding
  * (`array<array<array<double>>>`, rings → points → [x, y]) and applies the
  * [[CrsDetect]] transverse-Mercator inverse to every coordinate pair —
  * the engine form of the reference's recursive coordinate-array walk
  * (SlopeGeoJsonUploadView.py:156-190, `_reproject_coords`).
  *
  * Row-local, no shuffle, constant per-vertex work; the EPSG parameter is
  * a literal so the projection constants resolve once per plan, not per
  * row. `src_epsg = 4326` is the identity (the reference short-circuits the
  * same way when the CRS already matches).
  */
case class StReproject(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def dataType: DataType = children(0).dataType
  override def nullable: Boolean = true

  /** Projection parameters resolved once — the epsg child is a literal. */
  private lazy val utm: Option[CrsDetect.Utm] = {
    val epsg = children(1).eval(InternalRow.empty).asInstanceOf[Int]
    if (epsg == 4326) None
    else Some(CrsDetect.candidates.find(_.epsg == epsg).getOrElse(
      throw new IllegalArgumentException(s"st_reproject: unsupported EPSG $epsg")))
  }

  override def eval(input: InternalRow): Any = {
    val g = children(0).eval(input)
    if (g == null) return null
    utm match {
      case None => g // already WGS84
      case Some(u) =>
        val rings = g.asInstanceOf[ArrayData]
        val outRings = new Array[Any](rings.numElements())
        var r = 0
        while (r < rings.numElements()) {
          val ring = rings.getArray(r)
          val outPts = new Array[Any](ring.numElements())
          var p = 0
          while (p < ring.numElements()) {
            val pt = ring.getArray(p)
            val (lon, lat) =
              CrsDetect.utmInverse(pt.getDouble(0), pt.getDouble(1), u.lon0Deg, u.ell)
            outPts(p) = new GenericArrayData(Array[Any](lon, lat))
            p += 1
          }
          outRings(r) = new GenericArrayData(outPts)
          r += 1
        }
        new GenericArrayData(outRings)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object StReproject {

  def apply(geom: Column, srcEpsg: Int): Column =
    ColumnBridge.native(StReproject(_), geom, lit(srcEpsg))
}
