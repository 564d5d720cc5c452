package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MergeIntoSpec extends SparkSpec {

  test("applyCdc covers update / delete / insert / delete-of-missing / keep") {
    import spark.implicits._
    val target = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "v", "n")
    val changes = Seq(
      (1L, "a2", 11, "U"), // matched update
      (2L, "b", 20, "D"),  // matched delete
      (4L, "d", 40, "I"),  // insert
      (9L, "x", 99, "D")   // delete of missing key: no-op
    ).toDF("k", "v", "n", "op")

    val (merged, stats) = MergeInto.applyCdc(target, changes, Seq("k"))
    val rows = merged.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(rows.toSeq == Seq((1L, "a2", 11), (3L, "c", 30), (4L, "d", 40)))
    assert(stats == MergeInto.MergeStats(updated = 1, deleted = 1, inserted = 1, kept = 1))
  }

  test("merged schema matches the target schema") {
    import spark.implicits._
    val target = Seq((1L, "a")).toDF("k", "v")
    val changes = Seq((1L, "b", "U")).toDF("k", "v", "op")
    val (merged, _) = MergeInto.applyCdc(target, changes, Seq("k"))
    assert(merged.columns.toSeq == target.columns.toSeq)
  }

  test("duplicate change keys are rejected (ANSI MERGE multiple-match rule)") {
    import spark.implicits._
    val target = Seq((1L, "a")).toDF("k", "v")
    val changes = Seq((1L, "b", "U"), (1L, "c", "D")).toDF("k", "v", "op")
    val e = intercept[IllegalArgumentException] {
      MergeInto.applyCdc(target, changes, Seq("k"))
    }
    assert(e.getMessage.contains("duplicate keys"))
  }

  test("duplicate TARGET keys are allowed (each row merges independently)") {
    import spark.implicits._
    val target = Seq((1L, "a"), (1L, "a2"), (2L, "b")).toDF("k", "v")
    val changes = Seq((1L, "z", "U")).toDF("k", "v", "op")
    val (merged, stats) = MergeInto.applyCdc(target, changes, Seq("k"))
    val rows = merged.orderBy("k", "v").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "z"), (1L, "z"), (2L, "b")))
    assert(stats.updated == 2 && stats.kept == 1)
  }

  test("validation/stats job is keys-only: the full-width join lineage runs once") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._

    val executed = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executed.synchronized { executed += planText(qe.executedPlan) }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val target = Seq((1L, "alphadata", 10), (2L, "betadata", 20)).toDF("k", "payload", "n")
      val changes = Seq((2L, "gammadata", 21, "U"), (3L, "deltadata", 30, "I"))
        .toDF("k", "payload", "n", "op")

      val (merged, stats) = MergeInto.applyCdc(target, changes, Seq("k"))
      // listener dispatch is async; poll until the eager job's plan lands
      val deadline = System.nanoTime() + 10_000_000_000L
      while (executed.synchronized(executed.isEmpty) && System.nanoTime() < deadline)
        Thread.sleep(50)
      val eager = executed.synchronized(executed.toVector)
      // the eager job(s) applyCdc ran for validation+stats must not touch
      // the renamed data columns — only keys and the op ride that exchange
      assert(eager.nonEmpty, "expected an eager validation/stats job")
      assert(!eager.exists(p => p.contains("__t_payload") || p.contains("__s_payload")),
        "validation/stats job carried full-width data columns")

      // consuming merged is what executes the full-width join — exactly here
      assert(merged.count() == 3L)
      assert(stats == MergeInto.MergeStats(updated = 1, deleted = 0, inserted = 1, kept = 1))
    } finally spark.listenerManager.unregister(listener)
  }
}
