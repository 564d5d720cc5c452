package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VecOpsSpec extends SparkSpec {

  private val codebook = Seq(
    (3L, Seq(1.0, 0.0), 1.0),
    (7L, Seq(0.0, 1.0), 1.0))

  test("argmaxCell picks the max-cosine centroid; ties and NaN go to the lowest id") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(2.0f, 0.1f)),  // clearly cell 3
      (2L, Array(0.1f, 2.0f)),  // clearly cell 7
      (3L, Array(1.0f, 1.0f)),  // exact tie -> lowest id (3)
      (4L, Array(0.0f, 0.0f))   // zero norm -> all sims NaN -> lowest id (3),
                                // matching ORDER BY sim DESC (NaN greatest), c_id
    ).toDF("id", "vec")
    val out = df
      .withColumn("nrm", VecOps.norm(col("vec")))
      .withColumn("cell", VecOps.argmaxCell(col("vec"), col("nrm"), codebook))
      .orderBy("id").collect().map(_.getAs[Long]("cell")).toSeq
    assert(out == Seq(3L, 7L, 3L, 3L))
  }

  test("argmaxCell matches a crossJoin+row_number window on mixed NaN sims") {
    import spark.implicits._
    // one zero-norm CENTROID: its sim is NaN for every vector, and SQL
    // window ordering (desc, NaN greatest) must pick it over real sims
    val cbWithZero = Seq((1L, Seq(0.0, 0.0), 0.0)) ++ codebook
    val df = Seq((1L, Array(2.0f, 0.1f))).toDF("id", "vec")
    val out = df
      .withColumn("nrm", VecOps.norm(col("vec")))
      .withColumn("cell", VecOps.argmaxCell(col("vec"), col("nrm"), cbWithZero))
      .head().getAs[Long]("cell")
    assert(out == 1L) // NaN sim displaces the real ones, lowest NaN id wins
  }
}
