package graft

import org.scalatest.funsuite.AnyFunSuite

/** The user-facing entry point exposes every registered engine function
  * through plain SQL. Uses its own session (not the shared SparkSpec one)
  * to prove the wiring is self-contained.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("GraftSession.create exposes engine functions via SQL") {
    // in-JVM sharp edge: when a session already exists (the shared
    // SparkSpec one), getOrCreate RETURNS it and applies create()'s conf
    // onto it — so save and restore the clobbered conf, or every suite
    // running after this one inherits shufflePartitions = 2
    val prior = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.conf.get("spark.sql.shuffle.partitions"))
    val spark = GraftSession.create("local[2]", shufflePartitions = 2)
    try {
      val r = spark.sql("""
        SELECT
          st_rect_clip_area(array(array(array(0D,0D), array(4D,0D), array(4D,4D), array(0D,4D), array(0D,0D))),
            1D, 1D, 3D, 3D) AS clip,
          st_contains_point(array(array(array(0D,0D), array(4D,0D), array(4D,4D), array(0D,4D), array(0D,0D))),
            2D, 2D) AS inside,
          vec_dot(array(1D, 2D, 3D), array(4D, 5D, 6D)) AS dot
      """).head()
      assert(r.getAs[Double]("clip") == 4.0)
      assert(r.getAs[Boolean]("inside"))
      assert(r.getAs[Double]("dot") == 32.0)
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    } finally {
      prior.foreach(p => spark.conf.set("spark.sql.shuffle.partitions", p))
    }
  }

  test("the shared test session runs the engine profile") {
    val s = SparkSpec.session
    GraftSession.engineConf.foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
  }
}
