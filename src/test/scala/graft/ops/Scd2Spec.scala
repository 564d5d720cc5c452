package graft.ops

import java.sql.Date

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  private val log = Seq(
    // key 1: A, A (no-op), B, B (no-op), A again — 3 versions
    (1, d("2024-01-01"), "A", 10L),
    (1, d("2024-02-01"), "A", 11L),
    (1, d("2024-03-01"), "B", 12L),
    (1, d("2024-04-01"), "B", 13L),
    (1, d("2024-05-01"), "A", 14L),
    // key 2: single observation — 1 open-ended version
    (2, d("2024-06-01"), "X", 20L)
  ).toDF("k", "ts", "attr", "seq")

  test("no-op observations collapse; intervals chain; latest is open") {
    val got = Scd2.fromChangeLog(log, Seq("k"), "ts", Seq("attr"), Seq("seq"))
      .orderBy("k", "version")
      .collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("attr"),
        r.getAs[Date]("valid_from").toString,
        Option(r.getAs[Date]("valid_to")).map(_.toString).orNull,
        r.getAs[Boolean]("is_current"), r.getAs[Int]("version")))
    assert(got.toSeq == Seq(
      (1, "A", "2024-01-01", "2024-03-01", false, 1),
      (1, "B", "2024-03-01", "2024-05-01", false, 2),
      (1, "A", "2024-05-01", null, true, 3),
      (2, "X", "2024-06-01", null, true, 1)))
  }

  test("null attribute transitions are null-safe") {
    val nlog = Seq(
      (1, d("2024-01-01"), Option("A"), 1L),
      (1, d("2024-02-01"), None, 2L), // A -> null: change
      (1, d("2024-03-01"), None, 3L), // null -> null: NO change
      (1, d("2024-04-01"), Option("A"), 4L) // null -> A: change
    ).toDF("k", "ts", "attr", "seq")
    val got = Scd2.fromChangeLog(nlog, Seq("k"), "ts", Seq("attr"), Seq("seq"))
      .orderBy("version").collect()
      .map(r => (Option(r.getAs[String]("attr")), r.getAs[Int]("version")))
    assert(got.toSeq == Seq((Some("A"), 1), (None, 2), (Some("A"), 3)))
  }

  test("same-timestamp observations break ties deterministically") {
    val tied = Seq(
      (1, d("2024-01-01"), "B", 2L),
      (1, d("2024-01-01"), "A", 1L) // seq 1 sorts first: A then B
    ).toDF("k", "ts", "attr", "seq")
    val got = Scd2.fromChangeLog(tied, Seq("k"), "ts", Seq("attr"), Seq("seq"))
      .orderBy("version").collect().map(_.getAs[String]("attr"))
    assert(got.toSeq == Seq("A", "B"))
  }

  test("reserved output columns and empty params are rejected") {
    intercept[IllegalArgumentException](
      Scd2.fromChangeLog(log.withColumnRenamed("attr", "valid_from"),
        Seq("k"), "ts", Seq("valid_from"), Seq("seq")))
    intercept[IllegalArgumentException](
      Scd2.fromChangeLog(log, Seq("k"), "ts", Seq("attr"), Seq.empty))
  }

  test("the plan shuffles once: both windows share one partitioning") {
    val plan = planText(Scd2.fromChangeLog(log, Seq("k"), "ts", Seq("attr"), Seq("seq"))
      .queryExecution.executedPlan)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected ONE key exchange, got $exchanges:\n$plan")
  }

  private def history(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("k", "version").collect()
      .map(r => (r.getAs[Int]("k"), Option(r.getAs[String]("attr")),
        r.getAs[Date]("valid_from").toString,
        Option(r.getAs[Date]("valid_to")).map(_.toString),
        r.getAs[Boolean]("is_current"), r.getAs[Int]("version"))).toSeq

  test("applyIncrement equals the full recompute on a strictly-after batch") {
    // batch2 extends key 1 (a no-op vs its current A, then a change) and
    // introduces key 3 — every timestamp after batch1's
    val batch2 = Seq(
      (1, d("2024-06-01"), Option("A"), 30L), // no-op vs current: collapses
      (1, d("2024-07-01"), Option("C"), 31L),
      (3, d("2024-07-15"), Option("Z"), 32L)
    ).toDF("k", "ts", "attr", "seq")
    val optLog = log.select(col("k"), col("ts"),
      col("attr").cast("string").as("attr"), col("seq"))
    val existing = Scd2.fromChangeLog(optLog, Seq("k"), "ts", Seq("attr"), Seq("seq"))
    val inc = Scd2.applyIncrement(existing, batch2,
      Seq("k"), "ts", Seq("attr"), Seq("seq"))
    val full = Scd2.fromChangeLog(optLog.unionByName(batch2),
      Seq("k"), "ts", Seq("attr"), Seq("seq"))
    assert(history(inc) == history(full))
    // the no-op collapsed: key 1 gained exactly ONE version (C)
    assert(history(inc).count(_._1 == 1) ==
      history(existing).count(_._1 == 1) + 1)
    // the new key numbered from 1
    assert(history(inc).filter(_._1 == 3).map(_._6) == Seq(1))
  }

  test("applyIncrement rejects late observations loudly") {
    val existing = Scd2.fromChangeLog(log, Seq("k"), "ts", Seq("attr"), Seq("seq"))
    val late = Seq((1, d("2024-04-15"), "X", 40L)).toDF("k", "ts", "attr", "seq")
    val e = intercept[IllegalArgumentException](
      Scd2.applyIncrement(existing, late, Seq("k"), "ts", Seq("attr"), Seq("seq")))
    assert(e.getMessage.contains("strictly-after"))
  }

  test("applyIncrement leaves untouched keys and closed history identical") {
    val existing = Scd2.fromChangeLog(log, Seq("k"), "ts", Seq("attr"), Seq("seq"))
    val batch2 = Seq((1, d("2024-06-01"), "C", 30L)).toDF("k", "ts", "attr", "seq")
    val inc = Scd2.applyIncrement(existing, batch2,
      Seq("k"), "ts", Seq("attr"), Seq("seq"))
    // key 2 (not in the batch) is byte-identical
    assert(history(inc.filter(col("k") === 2)) ==
      history(existing.filter(col("k") === 2)))
    // key 1's closed versions 1..2 unchanged; old current (3) closed at
    // the increment's ts; new version 4 appended
    val k1 = history(inc).filter(_._1 == 1)
    assert(k1.take(2) == history(existing).filter(_._1 == 1).take(2))
    assert(k1(2) == ((1, Some("A"), "2024-05-01", Some("2024-06-01"), false, 3)))
    assert(k1(3) == ((1, Some("C"), "2024-06-01", None, true, 4)))
  }
}
