package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.graft.SparkStatus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The engine bounds the plan text Spark renders for its listener events
  * (`spark.sql.maxPlanStringLength` in [[GraftSession.engineConf]]): a
  * chain of nested pins, whose every scan prints the pin's whole cached
  * plan, leaves only bounded descriptions in the SQL status store, logs
  * no truncation warning, and still reads whole through `planText`.
  */
class PlanStringSpec extends SparkSpec {

  private val rootExecution = """-execution-root-id-(\d+)$""".r.unanchored
  private val marker = """\.\.\. \d+ more characters$""".r.unanchored
  private val truncated = "Truncated the string representation of a plan"
  private val stringUtils = "org.apache.spark.sql.catalyst.util.StringUtils"

  /** `levels` pins over a small range, each joining the pin below it with
    * a projection of itself and aggregating. Both join sides scan the
    * lower pin (the projection keeps their exchanges apart, so neither is
    * reused), so its cached plan prints twice and the text doubles per
    * level. Returns the top frame and every pin, for the caller to
    * release.
    */
  private def nestedPins(levels: Int): (DataFrame, Seq[DataFrame]) = {
    val base = spark.range(0, 64, 1, 2)
      .select((col("id") % 8).as("k"), col("id").as("v")).persist()
    val pins = (1 to levels).scanLeft(base) { (p, _) =>
      p.join(p.select(col("k"), (col("v") + 1).as("w")), "k")
        .groupBy("k").agg(sum(col("v") + col("w")).as("v")).persist()
    }
    (pins.last.orderBy("k"), pins)
  }

  /** The session's bound, in characters (the engine's 64k). */
  private def bound: Int = spark.sessionState.conf.maxPlanStringLength

  test("a nested-pin chain's plan descriptions are bounded; planText reads it whole") {
    val (df, pins) = nestedPins(3)
    try {
      val (rows, tag) = QueryProfile.tagged(spark, "nested")(df.collect())
      assert(rows.length == 8)
      val (jobs, _) = SparkStatus.tagged(spark.sparkContext, tag.name, Array(0.5))
      val roots = jobs.flatMap(_.jobTags).collect { case rootExecution(id) => id.toLong }.toSet
      val descriptions = SparkStatus.planDescriptions(spark.sparkContext)
        .collect { case (root, d) if roots(root) => d }
      val sizes = descriptions.map(_.length)
      assert(descriptions.nonEmpty, roots)
      assert(descriptions.forall(d => d.length <= bound + marker.findFirstIn(d).fold(0)(_.length)),
        s"description sizes $sizes against a bound of $bound")
      assert(descriptions.exists(marker.findFirstIn(_).isDefined), s"no description cut: $sizes")
      val whole = planText(df.queryExecution.executedPlan)
      assert(whole.length > bound, whole.length)
      assert(marker.findFirstIn(whole).isEmpty)
      assert(whole.contains("InMemoryRelation") && whole.contains("InMemoryTableScan"))
    } finally pins.foreach(_.unpersist())
  }

  test("a cut plan logs no truncation warning") {
    val (df, pins) = nestedPins(3)
    try {
      assert(LogCapture(stringUtils, truncated)(df.collect()).isEmpty)
      // control: at WARN the same logger reports each cut
      val level = LogManager.getLogger(stringUtils).getLevel
      val seen = try {
        Configurator.setLevel(stringUtils, Level.WARN)
        LogCapture(stringUtils, truncated)(df.queryExecution.executedPlan.toString)
      } finally Configurator.setLevel(stringUtils, level)
      assert(seen.nonEmpty)
    } finally pins.foreach(_.unpersist())
  }
}
