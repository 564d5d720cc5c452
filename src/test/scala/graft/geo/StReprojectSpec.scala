package graft.geo

import graft.SparkSpec
import graft.api.GeoPipeline
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** F21 runtime half: the column-level st_reproject expression.
  * Ground truth is [[CrsDetect.utmForward]] — forward-project known WGS84
  * points, run the DF-level inverse, expect the originals back.
  */
class StReprojectSpec extends SparkSpec {

  private val wgs = Seq((28.9, -1.9), (29.5, -2.3), (30.2, -1.2))

  private def utmSquares = {
    import spark.implicits._
    wgs.zipWithIndex.map { case ((lon, lat), i) =>
      val (e, n) = CrsDetect.utmForward(lon, lat, 27.0, CrsDetect.Wgs84)
      (i.toLong, Seq(Seq(Seq(e, n), Seq(e + 1000, n), Seq(e + 1000, n + 1000),
        Seq(e, n + 1000), Seq(e, n))))
    }.toDF("feature_id", "geom")
  }

  test("st_reproject inverts utmForward to ~1e-8 degrees") {
    val out = utmSquares
      .select(col("feature_id"), StReproject(col("geom"), 32735).as("geom"))
      .select(col("feature_id"),
        element_at(element_at(element_at(col("geom"), 1), 1), 1).as("lon"),
        element_at(element_at(element_at(col("geom"), 1), 1), 2).as("lat"))
      .orderBy("feature_id").collect()
    out.zip(wgs).foreach { case (r, (lon, lat)) =>
      assert(math.abs(r.getDouble(1) - lon) < 1e-8, s"lon ${r.getDouble(1)} vs $lon")
      assert(math.abs(r.getDouble(2) - lat) < 1e-8, s"lat ${r.getDouble(2)} vs $lat")
    }
  }

  test("epsg 4326 is the identity") {
    import spark.implicits._
    val df = Seq((1L, Seq(Seq(Seq(29.1, -1.5), Seq(29.2, -1.5), Seq(29.1, -1.5)))))
      .toDF("feature_id", "geom")
    val before = df.select("geom").head()
    val after = df.select(StReproject(col("geom"), 4326).as("geom")).head()
    assert(before == after)
  }

  test("ring structure (multi-ring, closure) is preserved through the walk") {
    import spark.implicits._
    val (e, n) = CrsDetect.utmForward(29.0, -2.0, 27.0, CrsDetect.Wgs84)
    val geom = Seq(
      Seq(Seq(e, n), Seq(e + 2000, n), Seq(e + 2000, n + 2000), Seq(e, n)), // exterior
      Seq(Seq(e + 500, n + 500), Seq(e + 800, n + 500), Seq(e + 500, n + 500))) // hole
    val out = Seq((1L, geom)).toDF("feature_id", "geom")
      .select(StReproject(col("geom"), 32735).as("geom"))
      .head().getSeq[scala.collection.Seq[scala.collection.Seq[Double]]](0)
    assert(out.size == 2)
    assert(out(0).size == 4 && out(1).size == 3)
    assert(out(0).head == out(0).last) // closure preserved exactly
  }

  test("GeoPipeline.reprojectFeatures auto-detects 32735 from an in-Rwanda sample") {
    val out = GeoPipeline.reprojectFeatures(utmSquares)
      .select(
        element_at(element_at(element_at(col("geom"), 1), 1), 1).as("lon"),
        element_at(element_at(element_at(col("geom"), 1), 1), 2).as("lat"))
      .orderBy("lon").collect()
    val sorted = wgs.sortBy(_._1)
    out.zip(sorted).foreach { case (r, (lon, lat)) =>
      assert(math.abs(r.getDouble(0) - lon) < 1e-8)
      assert(math.abs(r.getDouble(1) - lat) < 1e-8)
    }
  }

  test("already-degrees sample short-circuits to 4326 (no-op)") {
    import spark.implicits._
    val df = Seq((1L, Seq(Seq(Seq(29.1, -1.5), Seq(29.2, -1.6), Seq(29.1, -1.5)))))
      .toDF("feature_id", "geom")
    val out = GeoPipeline.reprojectFeatures(df)
      .select("geom").head()
    assert(out == df.select("geom").head())
  }
}
