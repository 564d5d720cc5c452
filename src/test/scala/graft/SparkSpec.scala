package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs, on the engine profile users get. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  // stable val (import spark.implicits._ needs one); the object-level
  // accessor below still rebuilds if the shared context was stopped
  // before this suite first touches it
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String, dir: String = "/root/testdata/sf0.001") =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `plan` as `toString` prints it, but whole: `toString` cuts at the
    * engine's `spark.sql.maxPlanStringLength`, and an assertion that a
    * plan lacks an operator must see all of it. Writing through the
    * `append` overload reads no plan-string bound and changes no conf, so
    * it is safe on any thread, a listener's included.
    */
  def planText(plan: TreeNode[_]): String = {
    val text = new java.lang.StringBuilder
    plan.treeString(text.append(_), verbose = true, addSuffix = false,
      maxFields = SQLConf.get.maxToStringFields, printOperatorId = false,
      printOutputColumns = false)
    text.toString
  }

  /** `body`'s result and the executed plan of every SQL execution it ran,
    * in completion order ([[QueryProfile.executions]]): a query whose pins
    * are filled as it is built runs those fills as executions of their
    * own, and their plans are no longer part of the query's.
    */
  def executedPlans[T](body: => T): (T, Seq[SparkPlan]) = {
    val (result, ran) = QueryProfile.executions(spark)(body)
    (result, ran.map(_.executedPlan))
  }

  /** Drop `table` from both the catalog and the warehouse directory — a
    * crashed earlier run can leave the location behind with no catalog
    * entry, which fails the next CREATE with LOCATION_ALREADY_EXISTS.
    */
  def freshTable(table: String): String = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
    table
  }
}

object SparkSpec {
  // def + stopped-check, not lazy val: if anything stops the shared
  // context mid-run (e.g. a main under test), later suites rebuild
  // instead of failing on a cached dead session
  private var cached: SparkSession = _
  def session: SparkSession = synchronized {
    if (cached == null || cached.sparkContext.isStopped) {
      // the production profile (engine confs, extensions, log levels), at
      // test width
      cached = GraftSession.create("local[4]", shufflePartitions = 4)
    }
    cached
  }
}
