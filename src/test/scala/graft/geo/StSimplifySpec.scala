package graft.geo

import graft.SparkSpec
import graft.api.GeoPipeline
import org.apache.spark.sql.functions._

/** Golden behavior of the st_simplify Douglas-Peucker expression —
  * the engine form of the reference's
  * `simplify(tolerance, preserve_topology=True)` at 0.001°
  * (SlopeGeoJsonUploadView.py:263-264, 396-397).
  */
class StSimplifySpec extends SparkSpec {

  private def toGeom(rings: Seq[Seq[(Double, Double)]]): Seq[Seq[Seq[Double]]] =
    rings.map(_.map { case (x, y) => Seq(x, y) })

  private def simplify(rings: Seq[Seq[(Double, Double)]], tol: Double) = {
    import spark.implicits._
    Seq(Tuple1(toGeom(rings))).toDF("geom")
      .select(StSimplify(col("geom"), tol).as("geom"))
      .collect()(0)
      .getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](0)
      .map(_.map(p => (p(0), p(1))).toSeq).toSeq
  }

  // unit square with sub-tolerance noise vertices on every edge
  private val noisySquare = Seq(
    (0.0, 0.0), (0.5, 0.0004), (1.0, 0.0), (1.0004, 0.5), (1.0, 1.0),
    (0.5, 0.9996), (0.0, 1.0), (0.0004, 0.5), (0.0, 0.0))

  test("sub-tolerance vertices are dropped, corners kept") {
    val out = simplify(Seq(noisySquare), 0.001)
    assert(out.head == Seq(
      (0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)))
  }

  test("a feature larger than the tolerance survives decimation") {
    val bumped = Seq(
      (0.0, 0.0), (0.5, 0.05), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0))
    val out = simplify(Seq(bumped), 0.001)
    assert(out.head.contains((0.5, 0.05)), "above-tolerance bump must be kept")
  }

  test("topology preserved: ring never decimated below triangle+closing") {
    // a sliver triangle whose apex is under the tolerance — naive DP would
    // collapse it to a 2-point degenerate ring; the expression keeps the
    // ORIGINAL ring instead (shapely preserve_topology behavior class)
    val sliver = Seq((0.0, 0.0), (1.0, 0.0005), (2.0, 0.0), (0.0, 0.0))
    val out = simplify(Seq(sliver), 0.001)
    assert(out.head == sliver)
  }

  test("holes are simplified but never vanish") {
    val outer = Seq(
      (0.0, 0.0), (5.0, 0.0002), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0))
    val hole = Seq(
      (4.0, 4.0), (5.0, 4.0003), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0), (4.0, 4.0))
    val out = simplify(Seq(outer, hole), 0.001)
    assert(out.size == 2, "hole ring dropped")
    assert(out(0) == Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)))
    assert(out(1) == Seq((4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0), (4.0, 4.0)))
  }

  test("tolerance <= 0 is the identity (reference short-circuit)") {
    val out = simplify(Seq(noisySquare), 0.0)
    assert(out.head == noisySquare)
  }

  test("GeoPipeline.simplifyFeatures decimates and keeps features valid") {
    import spark.implicits._
    val features = Seq((1L, toGeom(Seq(noisySquare)))).toDF("feature_id", "geom")
    val out = GeoPipeline.simplifyFeatures(features, 0.001)
    val geoms = out.select(
      size(element_at(col("geom"), 1)).as("n"),
      GeoFunctions.stIsValidPolygon(col("geom")).as("valid")).collect()
    assert(geoms.length == 1)
    assert(geoms(0).getInt(0) == 5)
    assert(geoms(0).getBoolean(1))
  }
}
