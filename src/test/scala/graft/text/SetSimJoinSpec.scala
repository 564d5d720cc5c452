package graft.text

import graft.SparkSpec

class SetSimJoinSpec extends SparkSpec {
  import spark.implicits._

  private def join(docs: Seq[(Long, Seq[String])], num: Int, den: Int) =
    SetSimJoin.jaccardJoin(docs.toDF("id", "tokens"), num, den)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(p => (p._1, p._2))

  test("exact threshold boundary: J = 3/5 accepted, just below rejected") {
    // a∩b = 3 of {a:4, b:4} → J = 3/5 exactly (8*3 = 24 ≥ 3*8 = 24)
    val atBoundary = join(Seq(
      1L -> Seq("w", "x", "y", "z"),
      2L -> Seq("w", "x", "y", "q")), 3, 5)
    assert(atBoundary === Seq((1L, 2L, 3L, 4L, 4L)))
    // a∩b = 3 of {4, 5} → J = 3/6 = 1/2 < 3/5 → rejected
    val below = join(Seq(
      1L -> Seq("w", "x", "y", "z"),
      2L -> Seq("w", "x", "y", "q", "r")), 3, 5)
    assert(below.isEmpty)
  }

  test("identical sets and disjoint sets") {
    val r = join(Seq(
      1L -> Seq("a", "b", "c"),
      2L -> Seq("a", "b", "c"),
      3L -> Seq("p", "q", "r")), 3, 5)
    assert(r === Seq((1L, 2L, 3L, 3L, 3L)))
  }

  test("zero false negatives vs brute force on a random-ish corpus") {
    // deterministic pseudo-corpus: doc i draws tokens from a small pool so
    // overlaps actually occur; compare against the quadratic ground truth.
    val docs = (0L until 40L).map { i =>
      i -> (0 until 8).map(j => s"t${(i * 7 + j * j) % 23}").distinct
    }
    val got = join(docs, 1, 2).map(p => (p._1, p._2)).toSet
    val want = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      inter = ta.toSet.intersect(tb.toSet).size
      if 3 * inter >= 1 * (ta.size + tb.size) // (num+den)·i ≥ num·(na+nb)
    } yield (ia, ib)).toSet
    assert(got === want)
    assert(want.nonEmpty) // the fixture actually exercises matches
  }

  test("empty token sets are dropped, not NPE'd; guard rejects bad ratio") {
    assert(join(Seq(1L -> Seq.empty[String], 2L -> Seq("a")), 3, 5).isEmpty)
    intercept[IllegalArgumentException] {
      SetSimJoin.jaccardJoin(Seq((1L, Seq("a"))).toDF("id", "tokens"), 6, 5)
    }
  }

  test("plan has no cartesian product — candidates come from the prefix join") {
    val df = SetSimJoin.jaccardJoin(
      (0L until 10L).map(i => i -> Seq(s"a$i", "shared")).toDF("id", "tokens"),
      1, 2)
    val plan = planText(df.queryExecution.executedPlan)
    assert(!plan.contains("CartesianProduct"),
      s"prefix filter must drive an equi-join, got:\n$plan")
  }
}
