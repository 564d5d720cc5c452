package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.analytics.HealthAnalytics
import graft.clean.CleanFunctions._
import graft.text.TextFunctions._

/** Property-based invariants (SURVEY.md §5 port): totals conservation for
  * the analytics, classifier totality, jaccard bounds/symmetry, simhash
  * order-independence. Raw ScalaCheck generators sampled with fixed seeds
  * (scalatestplus bridge unavailable offline) — deterministic across runs.
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)))

  private val slideGen = Gen.oneOf(
    "POSITIVE", "pos", "+", "p.falciparum", "malaria", "NEGATIVE", "neg", "-",
    "no malaria", "clean", "unclear", "", "xx", "Positive-ish", "N/A")

  test("property: pos + neg + inconclusive == total for any slide mix") {
    samples(Gen.listOfN(40, Gen.zip(Gen.choose(2020, 2024), slideGen)), 8)
      .filter(_.nonEmpty).foreach { rows =>
        val df = rows.toDF("year", "slide")
          .select(col("year"),
            interpretTestResult(col("slide")).as("test_result"),
            isPositiveCase(col("slide")).as("is_positive"))
          .withColumn("village", lit("v")).withColumn("district", lit("d"))
          .withColumn("sector", lit("s")).withColumn("gender", lit("g"))
          .withColumn("age_group", lit("a")).withColumn("month", lit(1))
        HealthAnalytics.yearlySlideStatus(df).collect().foreach { r =>
          assert(r.getAs[Long]("positive_cases") + r.getAs[Long]("negative_cases") +
            r.getAs[Long]("inconclusive_cases") == r.getAs[Long]("total_tests"))
          assert(r.getAs[Double]("positivity_rate") >= 0 &&
            r.getAs[Double]("positivity_rate") <= 100)
        }
      }
  }

  test("property: classifier is total (every string maps to one of 4 labels)") {
    val inputs = samples(Gen.asciiPrintableStr, 40)
    val out = inputs.toDF("x").select(interpretTestResult(col("x")))
      .as[String].collect()
    assert(out.forall(Set("Positive", "Negative", "Inconclusive", "Unknown")))
  }

  private val wordGen = Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e", "f", "g"))

  test("property: jaccard is symmetric, bounded, and 1 on self") {
    samples(Gen.zip(wordGen, wordGen), 15).foreach { case (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val ab = df.select(jaccard(col("a"), col("b"))).head.getDouble(0)
      val ba = df.select(jaccard(col("b"), col("a"))).head.getDouble(0)
      assert(ab == ba)
      assert(ab >= 0.0 && ab <= 1.0)
      if (a.nonEmpty) {
        val self = Seq(Tuple1(a)).toDF("a")
          .select(jaccard(col("a"), col("a"))).head.getDouble(0)
        assert(self == 1.0)
      }
    }
  }

  test("property: simhash is token-order independent") {
    val rnd = new scala.util.Random(7)
    samples(Gen.listOfN(8, Gen.oneOf("spark", "query", "join", "filter", "sort")), 8)
      .filter(_.nonEmpty).foreach { words =>
        val fp1 = Seq(words.mkString(" ")).toDF("x")
          .select(simhash60(tokens(col("x")))).head.getLong(0)
        val fp2 = Seq(rnd.shuffle(words).mkString(" ")).toDF("x")
          .select(simhash60(tokens(col("x")))).head.getLong(0)
        assert(fp1 == fp2) // votes are a bag-sum, order can't matter
      }
  }

  test("property: cleanMonth only ever yields 1-12 or null") {
    val inputs = samples(Gen.oneOf(Gen.asciiPrintableStr,
      Gen.choose(-50, 50).map(_.toString)), 40)
    inputs.toDF("x").select(cleanMonth(col("x"))).collect().foreach { r =>
      assert(r.isNullAt(0) || (r.getInt(0) >= 1 && r.getInt(0) <= 12))
    }
  }

  // random word-soup corpora for the curation invariants: ids unique,
  // strata from a small set, doc lengths spanning sub- and multi-chunk
  private def corpusGen: Gen[Seq[(Long, String, String)]] =
    Gen.listOfN(30, Gen.zip(
      Gen.oneOf("aa", "bb", "cc"),
      Gen.choose(1, 50),
      Gen.choose(0, 5))).map(_.zipWithIndex.map { case ((s, len, w), i) =>
      (i.toLong, (0 until len).map(j => s"w${(j + w) % 9}").mkString(" "), s)
    })

  test("property: packShards conserves docs and tokens across shards") {
    samples(corpusGen, 6).foreach { rows =>
      val df = rows.toDF("doc_id", "text", "lang")
      val out = graft.curation.Curation.packShards(df, tokensPerShard = 40).collect()
      assert(out.map(_.getAs[Long]("docs")).sum == rows.size.toLong)
      val expectedTokens = rows.map(_._2.split("\\s+").length.toLong).sum
      assert(out.map(_.getAs[Long]("tokens")).sum == expectedTokens)
      // shard ids start at 0 per stratum and are distinct; gaps are legal
      // (a doc longer than the budget jumps the running offset past a
      // whole shard), contiguity is NOT an invariant
      out.groupBy(_.getString(0)).foreach { case (_, shards) =>
        val ids = shards.map(_.getAs[Long]("shard"))
        assert(ids.min == 0L && ids.distinct.length == ids.length)
      }
    }
  }

  test("property: stratifiedSample is exact-size, deterministic, within-stratum") {
    samples(corpusGen, 6).foreach { rows =>
      val df = rows.toDF("doc_id", "text", "lang")
      val n = 4
      val out = graft.curation.Curation.stratifiedSample(df, "lang", n).collect()
      val byStratum = out.groupBy(_.getString(0))
      val strataSizes = rows.groupBy(_._3).view.mapValues(_.size).toMap
      byStratum.foreach { case (s, picked) =>
        assert(picked.length == math.min(n, strataSizes(s)))
        assert(picked.map(_.getAs[Long]("rk")).sorted.toSeq ==
          (1L to picked.length).toSeq)
      }
      val again = graft.curation.Curation.stratifiedSample(df, "lang", n).collect()
      assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
    }
  }

  test("property: chunkDedupReport totals reconcile with the corpus") {
    samples(corpusGen, 6).foreach { rows =>
      val df = rows.toDF("doc_id", "text", "lang")
      val out = graft.curation.Curation.chunkDedupReport(df, groupCol = "lang",
        chunkTokens = 10).collect()
      assert(out.map(_.getAs[Long]("docs")).sum == rows.size.toLong)
      val expectedChunks = rows.map(_._2.split("\\s+").length / 10).map(_.toLong).sum
      assert(out.map(_.getAs[Long]("total_chunks")).sum == expectedChunks)
      out.foreach { r =>
        assert(r.getAs[Long]("dup_chunks") <= r.getAs[Long]("total_chunks"))
        assert(r.getAs[Long]("flagged_docs") <= r.getAs[Long]("docs"))
      }
    }
  }

  test("property: subword segmentation is lossless, greedy, and vocab-confined") {
    val alpha = Gen.oneOf('a', 'b', 'c')
    val wordGen = Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, alpha).map(_.mkString))
    val caseGen = for {
      vocab <- Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, wordGen)).map(_.distinct)
      words <- Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, wordGen))
    } yield (vocab, words)
    samples(caseGen, 40).foreach { case (vocab, words) =>
      val text = words.mkString(" ")
      val r = Seq(text).toDF("text")
        .select(graft.text.SubwordTokenizer.tokenize(col("text"), vocab).as("s"))
        .select("s.n_pieces", "s.n_unk", "s.joined").head()
      val pieces = if (r.getString(2).isEmpty) Nil else r.getString(2).split("\\|").toSeq
      // losslessness: stripping the '?' fallback marks reconstructs input
      assert(pieces.map(_.stripPrefix("?")).mkString == words.mkString)
      assert(r.getInt(0) == pieces.length)
      assert(r.getInt(1) == pieces.count(_.startsWith("?")))
      // every real piece is in the vocab; every fallback is a single char
      val vset = vocab.toSet
      pieces.foreach { p =>
        if (p.startsWith("?")) assert(p.length == 2)
        else assert(vset.contains(p), s"piece '$p' not in vocab")
      }
      // greedy: at each position the emitted piece is the LONGEST match
      var rest = pieces
      words.foreach { w =>
        var pos = 0
        while (pos < w.length) {
          val p = rest.head; rest = rest.tail
          val longest = (math.min(10, w.length - pos) to 1 by -1)
            .map(l => w.substring(pos, pos + l)).find(vset.contains)
          longest match {
            case Some(best) => assert(p == best, s"greedy broke at $w:$pos")
            case None => assert(p == "?" + w.charAt(pos))
          }
          pos += (if (p.startsWith("?")) 1 else p.length)
        }
      }
    }
  }

  test("property: ImageIO round-trip luma and box pooling match direct computation") {
    val caseGen = for {
      w <- Gen.choose(2, 20); h <- Gen.choose(2, 20)
      seed <- Gen.choose(0, 1000000)
    } yield (w, h, seed)
    samples(caseGen, 25).foreach { case (w, h, seed) =>
      // deterministic pseudo-random pixels from the case seed
      def rgb(x: Int, y: Int): Int = {
        val v = (seed * 2654435761L + x * 40503L + y * 10619863L) & 0xffffff
        v.toInt
      }
      def luma(p: Int): Long =
        299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)
      val png = graft.multimodal.ImageIoCodec.encode(w, h, "png")(rgb)
      val d = graft.multimodal.ImageIoCodec.decode(png)
      val expected = (for (y <- 0 until h; x <- 0 until w) yield luma(rgb(x, y))).sum
      assert(d.width == w && d.height == h)
      assert(d.lumaSumMilli == expected, s"$w x $h seed=$seed")
      assert(d.topLeftLumaMilli == luma(rgb(0, 0)))
      assert(d.bottomRightLumaMilli == luma(rgb(w - 1, h - 1)))
      // box pooling: partition of the total, each box = direct sum
      val (_, _, sums) = graft.multimodal.ImageIoCodec.boxSums(png, 2)
      assert(sums.sum == expected)
      for (gy <- 0 until 2; gx <- 0 until 2) {
        val direct = (for {
          y <- 0 until h if y * 2 / h == gy
          x <- 0 until w if x * 2 / w == gx
        } yield luma(rgb(x, y))).sum
        assert(sums(gy * 2 + gx) == direct, s"box $gx,$gy of $w x $h")
      }
    }
  }

  test("property: expectations report matches brute-force rule counts") {
    import graft.ops.Expectations._
    val rowGen = Gen.zip(Gen.choose(-50, 50), Gen.choose(-5.0, 5.0))
    val caseGen = for {
      rows <- Gen.choose(1, 30).flatMap(n => Gen.listOfN(n, rowGen))
      t1 <- Gen.choose(-40, 40); t2 <- Gen.choose(-4.0, 4.0)
    } yield (rows, t1, t2)
    samples(caseGen, 20).foreach { case (rows, t1, t2) =>
      val df = rows.toDF("i", "x")
      val rep = report(df, Seq(
        Rule("i_over", col("i") > t1),
        Rule("x_over", col("x") > t2)))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      val expI = rows.count(_._1 > t1).toLong
      val expX = rows.count(_._2 > t2).toLong
      assert(rep("i_over") === ((rows.size.toLong, expI, expI.toDouble / rows.size)))
      assert(rep("x_over") === ((rows.size.toLong, expX, expX.toDouble / rows.size)))
    }
  }
}
