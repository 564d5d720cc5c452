package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bit-parity of the round-17 native optimization expressions against the
  * exact built-in chains they replaced (the TextSketchSpec discipline):
  * the optimizations must change WHERE work happens, never a value.
  */
class NativeExprParitySpec extends SparkSpec {

  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog the quick brown fox",
    "", " ", "one", "a b", "a a a a a",
    "tabs\tand\nnewlines mixed   spaces",
    "unicode éü中文 tokens 😀 ok",
    null)

  test("md5_prefix_long matches conv(substring(md5)) for every width") {
    val df = texts.toDF("s")
    for (n <- Seq(1, 2, 4, 8, 12, 15)) {
      val rows = df.select(
        TextSketch.md5PrefixLong(col("s"), n).as("native"),
        conv(substring(md5(col("s")), 1, n), 16, 10).cast("long").as("chain"))
        .collect()
      rows.foreach { r =>
        assert(r.isNullAt(0) === r.isNullAt(1), s"null mismatch at width $n")
        if (!r.isNullAt(0)) assert(r.getLong(0) === r.getLong(1), s"width $n")
      }
    }
  }

  test("md5_prefix_long matches on non-string input via cast") {
    val df = Seq(0L, 1L, -7L, Long.MaxValue).toDF("v")
    val rows = df.select(
      TextSketch.md5PrefixLong(col("v").cast("string"), 8).as("native"),
      conv(substring(md5(col("v").cast("string")), 1, 8), 16, 10)
        .cast("long").as("chain")).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("array_bigrams matches the transform/slice HOF chain") {
    val df = texts.toDF("s")
      .select(col("s"), split(trim(col("s")), "\\s+").as("toks"))
    def hof(toks: org.apache.spark.sql.Column) =
      when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", slice(toks, i, lit(2)))))
        .otherwise(array().cast("array<string>"))
    val rows = df.select(
      TextSketch.arrayBigrams(col("toks")).as("native"),
      hof(col("toks")).as("chain")).collect()
    rows.foreach { r =>
      // the HOF chain yields null for a null token array (when -> null
      // -> otherwise branch gives empty); split(null) is null, so both
      // columns see the same null input
      val n = if (r.isNullAt(0)) null else r.getSeq[String](0)
      val c = if (r.isNullAt(1)) null else r.getSeq[String](1)
      assert(n === c)
    }
  }

  test("term_postings matches posexplode + groupBy + collect_list") {
    val docs = texts.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    val toks = split(trim(col("text")), "\\s+")
    val native = docs
      .select(col("doc_id"), explode(TextSketch.termPostings(toks)).as("p"))
      .select(col("doc_id"), col("p.term").as("term"), col("p.tf").as("tf"),
        col("p.positions").as("positions"))
    val classic = docs
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "term")))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
    val n = native.orderBy("doc_id", "term").collect().toSeq
    val c = classic.orderBy("doc_id", "term")
      .select("doc_id", "term", "tf", "positions").collect().toSeq
    assert(n.map(_.toString) === c.map(_.toString))
  }

  test("window_hash_groups matches posexplode + groupBy for all three shapes") {
    val docs = (texts ++ Seq(
      // duplicate windows inside one doc (iis with several ordinals)
      "x y z x y z x y z",
      (1 to 45).map(i => s"w${i % 9}").mkString(" ")))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    val toks = split(trim(col("text")), "\\s+")
    // (width, stride, tail) — the removeDupSpans / chunkDedupReport /
    // dedupSegmentsKeepFirst parameterizations
    for ((w, st, tail) <- Seq((3, 1, false), (4, 4, false), (4, 4, true))) {
      // classic chain: enumerate window starts, join tokens, hash, group
      val nWins =
        if (tail) ceil(size(toks).cast("double") / st).cast("int")
        else floor((size(toks) - w).cast("double") / st).cast("int") + 1
      val wtexts = when(size(toks) < (if (tail) 1 else w),
          array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), nWins - 1),
          o => array_join(slice(toks, o * st + 1, lit(w)), " ")))
      val classic = docs
        .select(col("doc_id"), posexplode(wtexts).as(Seq("o", "wtext")))
        .select(col("doc_id"), col("o"),
          TextSketch.md5PrefixLong(col("wtext"), 15).as("h"))
        .groupBy("doc_id", "h")
        .agg(sort_array(collect_list(col("o"))).as("iis"),
          count(lit(1)).as("k"))
      val native = docs
        .select(col("doc_id"),
          explode(TextSketch.windowHashGroups(col("text"), w, st, tail)).as("g"))
        .select(col("doc_id"), col("g.h").as("h"), col("g.iis").as("iis"),
          col("g.k").as("k"))
      val c = classic.orderBy("doc_id", "h").collect().toSeq
      val n = native.orderBy("doc_id", "h").collect().toSeq
      assert(n.map(_.toString) === c.map(_.toString), s"(w=$w, st=$st, tail=$tail)")
      // null text drops the row in both forms; all-duplicate doc groups
      if (w == 3 && st == 1) {
        val dupDoc = n.filter(r => r.getLong(0) == texts.length.toLong)
        assert(dupDoc.count(r => r.getLong(3) > 1L) > 0,
          "expected a multi-ordinal group")
      }
    }
  }

  test("span_keep_tokens matches the filter/exists HOF chains (both shapes)") {
    // (toks, drops) edge grid: null drops (dominant case), empty drops,
    // overlapping spans, duplicate drop indices, spans past the end,
    // negative index, null toks — drops are array<int> like iis elements
    val rows: Seq[(Seq[String], Seq[Integer])] = Seq(
      (Seq("a", "b", "c", "d", "e", "f", "g", "h"), Seq(Int.box(1), Int.box(3))),
      (Seq("a", "b", "c"), Seq.empty[Integer]),
      (Seq("a", "b", "c", "d"), null),
      (null, Seq(Int.box(0))),
      (null, null),
      (Seq("a", "b"), Seq(Int.box(5))),
      (Seq("a", "b", "c", "d", "e"), Seq(Int.box(0), Int.box(0), Int.box(2))),
      (Seq("x"), Seq(Int.box(-2))),
      ((1 to 41).map(i => s"t$i"), Seq(Int.box(0), Int.box(1), Int.box(7), Int.box(9))))
    val df = rows.toDF("toks", "drops")
    // shape A — removeDupSpans (stride 1, width w): the exact old chain
    for (w <- Seq(3, 10)) {
      val chain = when(col("drops").isNull, col("toks"))
        .otherwise(filter(col("toks"), (_, p) =>
          !exists(col("drops"), i => i <= p && p <= i + lit(w - 1))))
      val got = df.select(
        TextSketch.spanKeepTokens(col("toks"), col("drops"), 1, w).as("native"),
        chain.as("chain")).collect()
      got.foreach { r =>
        assert(r.isNullAt(0) === r.isNullAt(1), s"null mismatch (w=$w)")
        if (!r.isNullAt(0))
          assert(r.getSeq[String](0) === r.getSeq[String](1), s"w=$w")
      }
    }
    // shape B — dedupSegmentsKeepFirst (stride = width = segN): exact old chain
    for (segN <- Seq(4, 5)) {
      val chain = when(col("drops").isNull, col("toks"))
        .otherwise(filter(col("toks"), (_, p) =>
          !exists(col("drops"), i => p >= i * segN && p < (i + 1) * segN)))
      val got = df.select(
        TextSketch.spanKeepTokens(col("toks"), col("drops"), segN, segN).as("native"),
        chain.as("chain")).collect()
      got.foreach { r =>
        assert(r.isNullAt(0) === r.isNullAt(1), s"null mismatch (segN=$segN)")
        if (!r.isNullAt(0))
          assert(r.getSeq[String](0) === r.getSeq[String](1), s"segN=$segN")
      }
    }
  }

  test("pretoken_shifted_bytes matches regexp_extract_all + shiftedBytes") {
    val cases = texts ++ Seq(
      "don't stop, it's fine", "abc123 def456", "  leading  spaces",
      "a+b=c; x%y!", "héllo wörld 中文123 😀", "MixedCASE Words",
      "trailing spaces   ", "1 22 333 4444")
    val df = cases.toDF("s")
    val chain = transform(
      regexp_extract_all(col("s"), lit(BpeTrainer.BytePretokenPattern), lit(0)),
      t => BpeTrainer.shiftedBytes(t))
    val got = df.select(
      BpeTrainer.pretokenShiftedBytes(col("s")).as("native"),
      chain.as("chain")).collect()
    got.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1), "null mismatch")
      if (!r.isNullAt(0))
        assert(r.getSeq[String](0) === r.getSeq[String](1))
    }
  }

  test("natives run inside whole-stage codegen with fallback disabled") {
    // spark.sql.codegen.fallback=false turns a silent
    // compile-error-fallback into a test failure — this pins that every
    // doGenCode implementation actually produces compilable Java, the plan
    // check pins that the stage is codegen'd at all (the r17 natives were
    // CodegenFallback, which blacked out the surrounding span), and the
    // null row pins null propagation through every generated shape
    // (nullable kernel / primitive / boxed / bigrams' null→empty).
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      import org.apache.spark.sql.graft.ColumnBridge
      def sq(vec: org.apache.spark.sql.Column, c: Seq[Double]) =
        ColumnBridge.column(graft.ml.PqSqDist(Seq(
          ColumnBridge.expression(vec),
          ColumnBridge.expression(typedLit(c)))))
      def am(vec: org.apache.spark.sql.Column, cb: Seq[Seq[Double]]) =
        ColumnBridge.column(graft.ml.PqArgminCell(Seq(
          ColumnBridge.expression(vec),
          ColumnBridge.expression(typedLit(cb)))))
      // repartition defeats ConvertToLocalRelation, which would otherwise
      // eval the whole projection on the driver and never exercise codegen
      val df = Seq[(String, Seq[Int], Seq[Double])](
          ("a b c d e", Seq(0), Seq(1.0, 2.0)),
          ("don't stop 123", Seq(1), Seq(3.0)), // short vec: boxed-null cases
          (null, null, null))
        .toDF("s", "drops", "vec")
        .repartition(1)
        .select(
          col("s"),
          TextSketch.md5PrefixLong(col("s"), 15).as("h"),
          TextSketch.spanKeepTokens(
            split(col("s"), " "), col("drops"), 1, 2).as("kept"),
          BpeTrainer.pretokenShiftedBytes(col("s")).as("pre"),
          TextSketch.arrayBigrams(split(col("s"), " ")).as("bg"),
          TextSketch.termPostings(split(col("s"), " ")).as("tp"),
          TextSketch.windowHashGroups(col("s"), 2, 1, tail = false).as("wg"),
          TextSketch.minhashSig(col("s"), 3, Seq(1L, 2L)).as("mh"),
          TextSketch.simhash60(col("s")).as("sh"),
          TextSketch.wordShingles(col("s"), 2).as("ws"),
          TextSketch.shingleHashSet(col("s"), 2).as("shs"),
          TextSketch.sortedIntersectCount(
            TextSketch.shingleHashSet(col("s"), 2),
            TextSketch.shingleHashSet(col("s"), 3)).as("sic"),
          graft.ml.VecOps.dot(col("vec"), col("vec")).as("dot"),
          sq(col("vec"), Seq(1.0, 1.0)).as("sq"),
          am(col("vec"), Seq(Seq(1.0, 1.0), Seq(9.0, 9.0))).as("am"))
      val rows = df.collect() // throws if any generated code fails to compile
      // AQE finalizes (and codegen-collapses) the plan only at execution —
      // read it AFTER the collect
      val plan = planText(df.queryExecution.executedPlan)
      // AQE renders a whole-stage-codegen'd operator as a "*(n)" prefix
      assert(plan.contains("*(1) Project"), plan)
      assert(rows.length == 3)
      val byS = rows.map(r => Option(r.getString(0)) -> r).toMap
      val r0 = byS(Some("a b c d e"))
      assert(r0.getSeq[String](2) == Seq("c", "d", "e")) // kept
      assert(r0.getDouble(12) === 5.0) // dot = 1 + 4
      assert(r0.getDouble(13) === 1.0) // sq to [1,1]: 0 + 1
      assert(r0.getLong(14) === 0L) // argmin: [1,1] at dist 1 beats [9,9]
      val r1 = byS(Some("don't stop 123"))
      assert(r1.getDouble(12) === 9.0) // dot truncates to min length
      assert(r1.isNullAt(13), "length mismatch must be null (boxed shape)")
      assert(r1.isNullAt(14), "all-null distances must be null (boxed shape)")
      val rn = byS(None)
      for (i <- Seq(1, 2, 3, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14))
        assert(rn.isNullAt(i), s"null input must stay null at ordinal $i")
      assert(rn.getSeq[String](4) == Seq.empty, "bigrams: null → empty")
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("pq sqdist/argmin match the HOF chain incl. edge shapes") {
    import graft.ml.{Pq, KMeans}
    // edge vectors: normal, short (length mismatch), with NaN — the
    // public surface is encode(): codes must match the HOF formulation
    val train = Seq(
      (1L, Seq.fill(64)(0.25)),
      (2L, (0 until 64).map(i => i * 0.125 - 4.0)),
      (5L, (0 until 64).map(i => math.sin(i.toDouble)))
    ).toDF("vec_id", "embedding")
    // the NaN vector exercises encode's argmin ordering only (a NaN in
    // FIT would poison the ANSI decimal cast in both formulations)
    val vecs = train.unionByName(
      Seq((3L, (0 until 64).map(i => if (i == 7) Double.NaN else 1.0)))
        .toDF("vec_id", "embedding"))
    val cbs = Pq.fit(spark, train, m = 4, k = 2, iters = 2)
    // HOF re-formulation of encode for the parity check
    def sqDistTo(sub: org.apache.spark.sql.Column, c: Seq[Double]) =
      aggregate(zip_with(sub, lit(c.toArray), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    def argminHof(sub: org.apache.spark.sql.Column, cb: Seq[Seq[Double]]) = {
      val dists = cb.map(c => sqDistTo(sub, c))
      val minD = least(dists: _*)
      dists.zipWithIndex.tail.foldLeft(when(dists.head === minD, 0L)) {
        case (acc, (d, i)) => acc.when(d === minD, i.toLong)
      }
    }
    def subvec(vec: org.apache.spark.sql.Column, m: Int, subDim: Int) =
      slice(vec.cast("array<double>"), m * subDim + 1, subDim)
    val nat = Pq.encode(vecs, cbs).select(col("vec_id"), col("codes"))
      .orderBy("vec_id").collect().toSeq
    val hof = vecs.withColumn("codes",
        array(cbs.zipWithIndex.map { case (cb, mi) =>
          argminHof(subvec(col("embedding"), mi, 16), cb)
        }: _*))
      .select(col("vec_id"), col("codes"))
      .orderBy("vec_id").collect().toSeq
    assert(nat.map(_.toString) === hof.map(_.toString))
    assert(KMeans.Scale > 0) // keep the import load-bearing
  }

  test("pq fit is unchanged by the one-pass-per-iteration restructure") {
    // golden check against the per-subspace sequential reference loop:
    // subspaces never interact, so batching them into one pass must not
    // move a single double
    val vecs = (0 until 40).map(i =>
      (i.toLong, (0 until 64).map(d => ((i * 31 + d * 7) % 17) * 0.5 - 4.0)))
      .toDF("vec_id", "embedding")
    val batched = graft.ml.Pq.fit(spark, vecs, m = 4, k = 4, iters = 2)
    // reference: m independent single-subspace fits over the projected
    // subvectors (each via the SAME public fit with m=1 on a sliced frame)
    val seq = (0 until 4).map { mi =>
      val sub = vecs.select(col("vec_id"),
        slice(col("embedding"), mi * 16 + 1, 16).as("embedding"))
      graft.ml.Pq.fit(spark, sub, m = 1, k = 4, iters = 2, dims = 16).head
    }
    assert(batched === seq)
  }
}
