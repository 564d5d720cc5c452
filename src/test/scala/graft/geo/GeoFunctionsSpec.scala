package graft.geo

import graft.SparkSpec
import org.apache.spark.sql.functions._
import graft.geo.GeoFunctions._

class GeoFunctionsSpec extends SparkSpec {
  import spark.implicits._

  // unit square with first vertex repeated last (GeoJSON ring convention)
  private val square = Seq(Seq(
    Seq(0.0, 0.0), Seq(4.0, 0.0), Seq(4.0, 4.0), Seq(0.0, 4.0), Seq(0.0, 0.0)))
  // square with a 1x1 hole at (1,1)-(2,2)
  private val holed = square :+ Seq(
    Seq(1.0, 1.0), Seq(2.0, 1.0), Seq(2.0, 2.0), Seq(1.0, 2.0), Seq(1.0, 1.0))
  // concave "L" polygon
  private val ell = Seq(Seq(
    Seq(0.0, 0.0), Seq(3.0, 0.0), Seq(3.0, 1.0), Seq(1.0, 1.0),
    Seq(1.0, 3.0), Seq(0.0, 3.0), Seq(0.0, 0.0)))

  private def geomDf(g: Seq[Seq[Seq[Double]]]) = Seq(Tuple1(g)).toDF("geom")

  test("vertex-mean centroid (reference parity: vertex average, not true centroid)") {
    val c = geomDf(square).select(stCentroidVertexMean($"geom").as("c"))
      .select("c.lon", "c.lat").head
    // 5 vertices including the repeated closing vertex — parity with the
    // reference's naive mean over ring coordinates
    assert(c.getDouble(0) == (0.0 + 4.0 + 4.0 + 0.0 + 0.0) / 5)
    assert(c.getDouble(1) == (0.0 + 0.0 + 4.0 + 4.0 + 0.0) / 5)
  }

  test("envelope and envelope-intersects") {
    val env = geomDf(ell).select(stEnvelope($"geom").as("e"))
      .select("e.minx", "e.miny", "e.maxx", "e.maxy").head
    assert((env.getDouble(0), env.getDouble(1), env.getDouble(2), env.getDouble(3))
      == (0.0, 0.0, 3.0, 3.0))
    val a = struct(lit(0.0).as("minx"), lit(0.0).as("miny"), lit(2.0).as("maxx"), lit(2.0).as("maxy"))
    val b = struct(lit(1.0).as("minx"), lit(1.0).as("miny"), lit(3.0).as("maxx"), lit(3.0).as("maxy"))
    val c = struct(lit(5.0).as("minx"), lit(5.0).as("miny"), lit(6.0).as("maxx"), lit(6.0).as("maxy"))
    val r = spark.range(1).select(
      stEnvelopeIntersects(a, b).as("ab"), stEnvelopeIntersects(a, c).as("ac")).head
    assert(r.getBoolean(0) && !r.getBoolean(1))
  }

  test("point-in-polygon: convex, concave, holes") {
    def contains(g: Seq[Seq[Seq[Double]]], x: Double, y: Double): Boolean =
      geomDf(g).select(stContainsPoint($"geom", lit(x), lit(y))).as[Boolean].head
    assert(contains(square, 2, 2))
    assert(!contains(square, 5, 2))
    assert(contains(ell, 0.5, 2.5)) // in the vertical arm
    assert(contains(ell, 2.5, 0.5)) // in the horizontal arm
    assert(!contains(ell, 2.0, 2.0)) // in the concave notch
    assert(contains(holed, 3.0, 3.0)) // inside square, outside hole
    assert(!contains(holed, 1.5, 1.5)) // inside the hole
  }

  test("shoelace area with holes") {
    assert(geomDf(square).select(stArea($"geom")).as[Double].head == 16.0)
    assert(geomDf(holed).select(stArea($"geom")).as[Double].head == 15.0)
    assert(geomDf(ell).select(stArea($"geom")).as[Double].head == 5.0)
  }

  test("rect intersection area (custom Catalyst expression)") {
    def clipArea(g: Seq[Seq[Seq[Double]]], r: (Double, Double, Double, Double)): Double =
      geomDf(g).select(stRectIntersectionArea($"geom",
        lit(r._1), lit(r._2), lit(r._3), lit(r._4))).as[Double].head
    assert(clipArea(square, (1, 1, 3, 3)) == 4.0)   // fully interior rect
    assert(clipArea(square, (-1, -1, 5, 5)) == 16.0) // rect covers polygon
    assert(clipArea(square, (2, 2, 6, 6)) == 4.0)   // corner overlap
    assert(clipArea(square, (10, 10, 12, 12)) == 0.0) // disjoint
    assert(clipArea(ell, (0, 0, 3, 3)) == 5.0)      // concave, full cover
    assert(clipArea(ell, (0, 0, 2, 2)) == 3.0)      // concave partial: 2x2 minus notch 1x1
    assert(clipArea(holed, (0, 0, 4, 4)) == 15.0)   // hole subtracted
    assert(clipArea(holed, (1, 1, 2, 2)) == 0.0)    // rect exactly on the hole
  }

  test("zonal-stats shape: points-in-polygon tag + aggregate") {
    val polys = Seq(
      ("west", Seq(Seq(Seq(0.0, 0.0), Seq(2.0, 0.0), Seq(2.0, 4.0), Seq(0.0, 4.0), Seq(0.0, 0.0)))),
      ("east", Seq(Seq(Seq(2.0, 0.0), Seq(4.0, 0.0), Seq(4.0, 4.0), Seq(2.0, 4.0), Seq(2.0, 0.0))))
    ).toDF("zone", "geom")
    val points = Seq((0.5, 0.5, 10.0), (1.5, 3.0, 20.0), (3.0, 1.0, 30.0), (3.9, 3.9, 40.0), (9.0, 9.0, 99.0))
      .toDF("x", "y", "v")
    val tagged = points.join(broadcast(polys), stContainsPoint(col("geom"), col("x"), col("y")))
      .groupBy("zone").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .orderBy("zone").collect()
    assert(tagged.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("east", 2L, 70.0), ("west", 2L, 30.0)))
  }

  test("polygon validity: closed rings, >=4 points, non-degenerate") {
    import org.apache.spark.sql.functions.col
    val open = Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(1.0, 1.0), Seq(0.0, 1.0)))
    val tooFew = Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 0.0)))
    val degenerate = Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(2.0, 0.0), Seq(0.0, 0.0)))
    assert(geomDf(square).select(stIsValidPolygon(col("geom"))).head.getBoolean(0))
    assert(geomDf(holed).select(stIsValidPolygon(col("geom"))).head.getBoolean(0))
    assert(!geomDf(open).select(stIsValidPolygon(col("geom"))).head.getBoolean(0))
    assert(!geomDf(tooFew).select(stIsValidPolygon(col("geom"))).head.getBoolean(0))
    assert(!geomDf(degenerate).select(stIsValidPolygon(col("geom"))).head.getBoolean(0))
  }
}
