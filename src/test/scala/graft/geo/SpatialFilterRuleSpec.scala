package graft.geo

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SpatialFilterRuleSpec extends SparkSpec {
  import spark.implicits._

  private val poly = Seq(Seq(
    Seq(2.0, 2.0), Seq(8.0, 2.0), Seq(8.0, 6.0), Seq(2.0, 6.0), Seq(2.0, 2.0)))

  test("constant-polygon containment filter gains parquet-pushed envelope predicates") {
    val dir = Files.createTempDirectory("spatial_rule").toString + "/pts"
    (0 until 100).map(i => (i.toDouble % 10, (i / 10).toDouble, i))
      .toDF("x", "y", "id").write.parquet(dir)

    val pts = spark.read.parquet(dir)
    val filtered = pts.filter(
      ContainsPoint(typedlit(poly), col("x"), col("y")))

    // the rule injected range predicates that reach the parquet scan
    val plan = planText(filtered.queryExecution.executedPlan)
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(x,2.0)") &&
      plan.contains("LessThanOrEqual(x,8.0)"),
      s"expected envelope pushdown in:\n$plan")

    // and results are identical to the pure HOF containment
    val expected = pts.filter(
      GeoFunctions.stContainsPoint(typedlit(poly), col("x"), col("y")))
      .select("id").as[Int].collect().sorted.toSeq
    val actual = filtered.select("id").as[Int].collect().sorted.toSeq
    assert(actual == expected)
    assert(actual.nonEmpty)
  }

  test("rule is idempotent across repeated optimization") {
    graft.sql.NativeCatalog.install(spark)
    graft.sql.NativeCatalog.install(spark) // double-install must not duplicate the rule
    val pts = Seq((3.0, 3.0, 1), (9.0, 9.0, 2)).toDF("x", "y", "id")
    val r = pts.filter(ContainsPoint(typedlit(poly), col("x"), col("y")))
      .select("id").as[Int].collect().toSeq
    assert(r == Seq(1))
    // one occurrence per batch that runs it, and only the two batches the
    // extension injects into — not "User Provided Optimizers" as well
    val runs = spark.sessionState.optimizer.batches
      .flatMap(b => b.rules.filter(_ == SpatialFilterRule).map(_ => b.name))
    assert(runs == Seq("Operator Optimization before Inferring Filters",
      "Operator Optimization after Inferring Filters"), runs)
  }
}
