package graft.curation

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Hand-computed fixtures for the third curation wave (q160-q164):
  * token-grain sequence packing, token-budget sampling, per-stratum
  * quantile calibration, Bloom-prefiltered decontamination, and
  * duplicated-span extraction. The sf0.01 oracle gate proves DuckDB
  * parity; these pin the SEMANTICS on corpora small enough to verify by
  * hand (boundary math, prefix rules, discrete-quantile ties, Bloom
  * no-false-negatives, island runs).
  */
class CurationWave3Spec extends SparkSpec {
  import spark.implicits._

  private def words(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  private def docs(rows: Seq[(Long, String, String, String)]) =
    rows.map { case (id, text, lang, src) => (id, text, lang, src) }
      .toDF("doc_id", "text", "lang", "source")

  // ---- q160 packSequences -------------------------------------------------

  test("packSequences: one doc spanning sequences gets exact segment math") {
    // 25 tokens at L=10: segments (seq 0, start 0, len 10),
    // (seq 1, 0, 10), (seq 2, 0, 5) — order-free because it's one doc.
    val d = docs(Seq((1L, words("a", 25), "en", "s")))
    val out = Curation.packSequences(d, seqTokens = 10).collect()
    assert(out.toSeq === Seq(
      Row("en", 0L, 1L, 0L, 10L),
      Row("en", 1L, 1L, 0L, 10L),
      Row("en", 2L, 1L, 0L, 5L)))
  }

  test("packSequences: segments tile every sequence exactly") {
    // Multi-doc, md5 order opaque — assert the tiling invariants instead:
    // total segment length == total tokens; every sequence except the
    // stratum's last is exactly full; segments within a sequence are
    // contiguous from offset 0.
    val d = docs(Seq(
      (1L, words("a", 7), "en", "s"), (2L, words("b", 8), "en", "s"),
      (3L, words("c", 13), "en", "s"), (4L, words("d", 4), "en", "s")))
    val segs = Curation.packSequences(d, seqTokens = 10)
      .collect().map(r => (r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(segs.map(_._3).sum === 32L) // 7+8+13+4
    val bySeq = segs.groupBy(_._1)
    val last = bySeq.keys.max
    bySeq.foreach { case (seq, ss) =>
      val fill = ss.map(_._3).sum
      if (seq < last) assert(fill === 10L, s"seq $seq not full")
      // contiguity: sorted starts chain start+len -> next start from 0
      val sorted = ss.sortBy(_._2)
      sorted.foldLeft(0L) { case (expect, (_, st, ln)) =>
        assert(st === expect); st + ln
      }
    }
  }

  // ---- q161 tokenBudgetSample --------------------------------------------

  test("tokenBudgetSample: greedy prefix keeps whole docs within budget") {
    // 5 docs x 100 tokens, budget 250: exactly 2 kept (200 tokens)
    // whatever the md5 order — equal sizes make the draw order-free.
    val d = docs((1L to 5L).map(i => (i, words(s"w$i-", 100), "en", "s")))
    val out = Curation.tokenBudgetSample(d, budgetTokens = 250).collect()
    assert(out.toSeq === Seq(Row("s", 5L, 500L, 2L, 200L)))
  }

  test("tokenBudgetSample: budgets are per-stratum, not global") {
    val d = docs(Seq(
      (1L, words("a", 100), "en", "s1"), (2L, words("b", 100), "en", "s1"),
      (3L, words("c", 100), "en", "s2")))
    val out = Curation.tokenBudgetSample(d, budgetTokens = 100,
      strataCol = "source").collect()
    assert(out.toSeq === Seq(
      Row("s1", 2L, 200L, 1L, 100L), Row("s2", 1L, 100L, 1L, 100L)))
  }

  // ---- q162 quantileCalibratedFilter -------------------------------------

  test("quantileCalibratedFilter: discrete quantile threshold, drop below") {
    // scores 1..10, drop 1/5: threshold = smallest score with cum >= 2
    // -> 2; dropped = |score < 2| = 1.
    val d = (1L to 10L).map(i => ("en", i)).toDF("lang", "s")
    val out = Curation.quantileCalibratedFilter(d, col("s")).collect()
    assert(out.toSeq === Seq(Row("en", 10L, 2L, 1L, 9L)))
  }

  test("quantileCalibratedFilter: all-tied scores drop nothing") {
    val d = Seq.fill(5)(("en", 7L)).toDF("lang", "s")
    val out = Curation.quantileCalibratedFilter(d, col("s")).collect()
    assert(out.toSeq === Seq(Row("en", 5L, 7L, 0L, 5L)))
  }

  test("quantileCalibratedFilter: each stratum gets its own threshold") {
    val d = ((1L to 10L).map(i => ("en", i)) ++ (1L to 10L).map(i => ("fr", i * 100)))
      .toDF("lang", "s")
    val out = Curation.quantileCalibratedFilter(d, col("s")).collect()
    assert(out.toSeq === Seq(
      Row("en", 10L, 2L, 1L, 9L), Row("fr", 10L, 200L, 1L, 9L)))
  }

  // ---- q163 bloomDecontaminate -------------------------------------------

  test("bloomDecontaminate: exact verdict, no false negatives, fp >= 0") {
    // doc 1 shares an exact 8-gram with the bench text; doc 2 does not.
    val shared = words("s", 8)
    val corpus = docs(Seq(
      (1L, s"${words("a", 3)} $shared ${words("z", 2)}", "en", "s1"),
      (2L, words("b", 12), "en", "s1"),
      (3L, words("c", 5), "en", "s2"))) // < 8 tokens: no grams at all
    val bench = Seq(s"${words("q", 2)} $shared").toDF("text")
    val out = Curation.bloomDecontaminate(corpus, bench).collect()
    val s1 = out.find(_.getString(0) == "s1").get
    assert(s1.getLong(1) === 2L)            // docs
    assert(s1.getLong(3) === 1L)            // contaminated: doc 1 only
    assert(s1.getLong(2) >= s1.getLong(3))  // bloom has no false negatives
    assert(s1.getLong(4) === s1.getLong(2) - s1.getLong(3))
    val s2 = out.find(_.getString(0) == "s2").get
    assert(s2.toSeq === Seq("s2", 1L, 0L, 0L, 0L))
  }

  test("bloomDecontaminateSurvivors: the action matches the report") {
    // same fixture as the report test: doc 1 contaminated, 2 and 3 clean
    val shared = words("s", 8)
    val corpus = docs(Seq(
      (1L, s"${words("a", 3)} $shared ${words("z", 2)}", "en", "s1"),
      (2L, words("b", 12), "en", "s1"),
      (3L, words("c", 5), "en", "s2")))
    val bench = Seq(s"${words("q", 2)} $shared").toDF("text")
    val kept = Curation.bloomDecontaminateSurvivors(corpus, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L))
    // original columns intact on the survivors
    assert(Curation.bloomDecontaminateSurvivors(corpus, bench).columns.toSeq
      === corpus.columns.toSeq)
  }

  test("bloomDecontaminate: clean corpus reports all zeros") {
    val corpus = docs(Seq((1L, words("a", 10), "en", "s")))
    val bench = Seq(words("q", 10)).toDF("text")
    val out = Curation.bloomDecontaminate(corpus, bench).collect()
    assert(out.head.getLong(3) === 0L) // nothing exactly contaminated
  }

  // ---- q164 dupSpanReport -------------------------------------------------

  test("dupSpanReport: consecutive dup windows merge into one span") {
    // A 12-token phrase shared by two docs yields 3 consecutive
    // duplicated 10-token windows in each -> one run of 3, span 12.
    val shared = words("s", 12)
    val d = docs(Seq(
      (1L, s"${words("a", 3)} $shared ${words("y", 2)}", "en", "src"),
      (2L, s"${words("b", 4)} $shared", "en", "src"),
      (3L, words("u", 15), "en", "src"),  // no duplicated windows
      (4L, words("v", 5), "en", "src"))) // < 10 tokens: no windows
    val out = Curation.dupSpanReport(d).collect()
    assert(out.toSeq === Seq(Row("src", 4L, 2L, 12L, 6L)))
  }

  // ---- q172 passageChunks -------------------------------------------------

  test("passageChunks: overlap geometry and the partial-tail rule") {
    val d = docs(Seq(
      (1L, words("a", 40), "en", "s"), // starts 1, 25 -> lens 32, 16
      (2L, words("b", 7), "en", "s"))) // one 7-token window: dropped
    val out = Curation.passageChunks(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 0L, 1L, 32L), (1L, 1L, 25L, 16L)))
    // overlapping tokens: chunk 1 starts inside chunk 0's window
    val full = Curation.passageChunks(d).collect()
    assert(full(0).getString(4) !== full(1).getString(4))
  }

  // ---- q168 surprisalReport ----------------------------------------------

  test("surprisalReport: integer bits match the hand-built bigram model") {
    // corpus bigram counts: "a b"=3, "b a"=1, "b c"=1, "x y"=1;
    // first-token counts: a=3, b=2, x=1. Bits = len(bin(cu div cb)) - 1:
    // "a b" -> 3/3 -> 0; "b a" -> 2/1 -> 1; "b c" -> 2/1 -> 1; "x y" -> 0.
    val d = docs(Seq(
      (1L, "a b a b", "en", "s"),  // nb 3, bits 0+1+0 = 1
      (2L, "a b c", "en", "s"),    // nb 2, bits 0+1 = 1
      (3L, "x y", "en", "s")))     // nb 1, bits 0
    val out = Curation.surprisalReport(d).collect()
    assert(out.toSeq === Seq(Row("en", 3L, 6L, 2L, 0L)))
    // flagBits = 0: any doc with a single surprising bigram flags
    val flagged = Curation.surprisalReport(d, flagBits = 0).collect()
    assert(flagged.toSeq === Seq(Row("en", 3L, 6L, 2L, 2L)))
  }

  // ---- writePackedCorpus --------------------------------------------------

  test("writePackedCorpus: layout round-trips the index, manifest is exact") {
    val d = docs(Seq(
      (1L, words("a", 25), "en", "s"), (2L, words("b", 7), "en", "s"),
      (3L, words("c", 13), "fr", "s"), (4L, words("d", 4), "fr", "s")))
    val base = Files.createTempDirectory("packed_corpus").toString
    Curation.writePackedCorpus(d, base, seqTokens = 10)
    // the written segments ARE the dataloader index
    val back = spark.read.parquet(s"$base/segments")
      .select("lang", "seq", "doc_id", "seg_start", "seg_len")
      .collect().map(_.toSeq).toSet
    val expect = Curation.packSequences(d, seqTokens = 10)
      .collect().map(_.toSeq).toSet
    assert(back === expect)
    // manifest matches the index aggregate and was swapped in LAST
    val manifest = spark.read.parquet(s"$base/_manifest")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(manifest("en") === ((4L, 5L, 32L))) // 25+7 tokens, 4 seqs, 5 segs
    assert(manifest("fr") === ((2L, 3L, 17L))) // 13+4 tokens in 2 seqs
    // overwrite is idempotent (staged swap, no residue)
    Curation.writePackedCorpus(d, base, seqTokens = 10)
    assert(spark.read.parquet(s"$base/segments")
      .select("lang", "seq", "doc_id", "seg_start", "seg_len")
      .collect().map(_.toSeq).toSet === expect)
  }

  test("readPackedCorpus: manifest-gated loader verifies and round-trips") {
    val d = docs(Seq(
      (1L, words("a", 25), "en", "s"), (2L, words("b", 7), "en", "s"),
      (3L, words("c", 13), "fr", "s")))
    val base = Files.createTempDirectory("packed_read").toString
    Curation.writePackedCorpus(d, base, seqTokens = 10)
    val (manifest, segs) = Curation.readPackedCorpus(spark, base)
    assert(manifest.count() === 2L)
    assert(segs.select("lang", "seq", "doc_id", "seg_start", "seg_len")
      .collect().map(_.toSeq).toSet ===
      Curation.packSequences(d, seqTokens = 10).collect().map(_.toSeq).toSet)
    // a missing manifest is an unfinished write: refuse to serve
    val bare = Files.createTempDirectory("packed_nomanifest").toString
    Curation.packSequences(d, seqTokens = 10)
      .write.partitionBy("lang").parquet(s"$bare/segments")
    intercept[IllegalArgumentException] {
      Curation.readPackedCorpus(spark, bare)
    }
    // data that disagrees with the manifest is corruption: refuse
    val broken = Files.createTempDirectory("packed_broken").toString
    Curation.writePackedCorpus(d, broken, seqTokens = 10)
    val enDir = new java.io.File(s"$broken/segments/lang=en")
    enDir.listFiles().filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    intercept[IllegalArgumentException] {
      Curation.readPackedCorpus(spark, broken)
    }
  }

  test("readPackedCorpus: a NULL stratum round-trips and verifies") {
    // null lang writes through the hive default-partition sentinel; the
    // loader recovers it AND the verification join must match it
    // null-safely (an equi-join never matches the null recount row)
    val d = docs(Seq(
      (1L, words("a", 25), "en", "s"), (2L, words("b", 7), null, "s")))
    val base = Files.createTempDirectory("packed_null").toString
    Curation.writePackedCorpus(d, base, seqTokens = 10)
    val (manifest, segs) = Curation.readPackedCorpus(spark, base)
    val m = manifest.collect()
      .map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(m(Some("en")) === ((3L, 3L, 25L)))
    assert(m(None) === ((1L, 1L, 7L)))
    assert(segs.filter(col("lang").isNull).count() === 1L)
  }

  // ---- q166 end-to-end composition ---------------------------------------

  test("q166: stages drop the right docs (funnel, then dedup, then pack)") {
    val passing = words("a", 19) + " the" // 20 toks, vocab 20, stop 1: passes
    val passing2 = words("b", 19) + " the"
    val dir = {
      val d = Files.createTempDirectory("e2e_docs").toString
      Seq(
        (1L, passing, "en", "s"),
        (2L, passing.replace(" ", "  "), "en", "s"), // same fingerprint as 1
        (3L, words("c", 10), "en", "s"),             // too_short: funnel drop
        (4L, passing2, "en", "s"))
        .map { case (id, t2, l, src) => (id, t2, l, src, t2.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$d/documents.parquet")
      d
    }
    val out = graft.SparkEntry.queries("q166_curation_e2e")(spark, dir).collect()
    // 4 docs -> funnel keeps 1,2,4 -> dedup keeps 1,4 -> budget (4000)
    // keeps both -> 40 tokens pack into one 256-token sequence
    assert(out.toSeq === Seq(Row("en", 4L, 3L, 2L, 2L, 1L, 40L)))
  }

  // ---- writeTrainingOrder -------------------------------------------------

  test("writeTrainingOrder: range files tile the window-built global order") {
    import org.apache.spark.sql.expressions.Window
    val d = docs((1L to 60L).map(i =>
      (i, s"tok$i", "en", s"s${(i % 3) + 1}")))
    val dir = Files.createTempDirectory("order").toString + "/out"
    Curation.writeTrainingOrder(d, dir, numFiles = 4)

    val files = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(files.length > 1, "expected a multi-file range layout")
    val perFile = files.map { f =>
      spark.read.parquet(f.getPath).collect()
        .map(r => (r.getAs[Long]("rk"), r.getAs[String]("source"),
          r.getAs[Long]("doc_id")))
    }.filter(_.nonEmpty)
    // each file internally sorted by the interleave key
    perFile.foreach { rows =>
      assert(rows.sortBy(r => (r._1, r._2)).toSeq === rows.toSeq)
    }
    // file ranges do not overlap in name order
    perFile.sliding(2).foreach {
      case Array(a, b) =>
        val (al, bh) = ((a.last._1, a.last._2), (b.head._1, b.head._2))
        assert(al._1 < bh._1 || (al._1 == bh._1 && al._2 <= bh._2),
          "file key ranges overlap")
      case _ =>
    }
    // concatenating files in name order reproduces the global window order
    val perSource = Window.partitionBy("source")
      .orderBy(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("doc_id").cast("string")),
        org.apache.spark.sql.functions.col("doc_id"))
    val expected = d
      .withColumn("rk", org.apache.spark.sql.functions.row_number()
        .over(perSource).cast("long"))
      .orderBy("rk", "source")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(perFile.flatten.map(_._3).toSeq === expected)
  }

  test("trainingOrderReport equals the window-built report, incl. boundary-spanning runs") {
    import org.apache.spark.sql.expressions.Window

    def windowReport(d: org.apache.spark.sql.DataFrame) = {
      val perSource = Window.partitionBy("source")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val global = Window.orderBy("rk", "source")
      val runsW = Window.orderBy("pos")
      d.select(col("doc_id"), col("source"))
        .withColumn("rk", row_number().over(perSource).cast("long"))
        .withColumn("pos", row_number().over(global).cast("long"))
        .withColumn("run_start",
          when(lag(col("source"), 1).over(runsW).isNull ||
            lag(col("source"), 1).over(runsW) =!= col("source"), 1L).otherwise(0L))
        .withColumn("run_id", sum(col("run_start")).over(
          runsW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("source", "run_id")
        .agg(count(lit(1)).as("run_len"), min(col("pos")).as("run_pos"))
        .groupBy("source")
        .agg(count(lit(1)).as("runs"), sum(col("run_len")).as("docs"),
          min(col("run_pos")).as("first_pos"), max(col("run_len")).as("max_run"))
        .orderBy("source").collect().toSeq
    }
    def tiledReport(d: org.apache.spark.sql.DataFrame, numFiles: Int) = {
      val dir = Files.createTempDirectory("torder").toString + "/out"
      Curation.writeTrainingOrder(d.select(col("doc_id"), col("source")),
        dir, numFiles = numFiles)
      Curation.trainingOrderReport(spark, dir, numFiles = numFiles)
        .collect().toSeq
    }
    // balanced 3-source round-robin (the q142 shape)
    val balanced = docs((1L to 60L).map(i => (i, s"t$i", "en", s"s${(i % 3) + 1}")))
    assert(tiledReport(balanced, 4) === windowReport(balanced))
    // a SINGLE source: one global run spanning every partition — the
    // boundary stitch must chain single-run partitions into one group
    val mono = docs((1L to 40L).map(i => (i, s"t$i", "en", "only")))
    assert(tiledReport(mono, 5) === windowReport(mono))
    // unbalanced: a dominant source whose tail runs cross partition
    // boundaries after the small sources exhaust
    val skewed = docs((1L to 50L).map(i =>
      (i, s"t$i", "en", if (i <= 44) "big" else if (i <= 47) "mid" else "tiny")))
    assert(tiledReport(skewed, 4) === windowReport(skewed))
  }

  // ---- crossSurprisalReport (q187: the reference-LM filter) --------------

  test("crossSurprisalReport: known, zero-bit, and OOV bigrams score exactly") {
    // reference "x y x z": bigrams (x,y) (y,x)?? no — shingles of width 2
    // over [x, y, x, z] are (x y), (y x), (x z); unigram-as-w1 counts
    // x: 2, y: 1. Targets:
    //   doc 10 "x y"  -> (x y): cb=1, cu(x)=2 -> bits = floor(log2 2) = 1
    //   doc 11 "y x"  -> (y x): cb=1, cu(y)=1 -> bits = 0
    //   doc 12 "q r"  -> unseen -> 20 OOV bits, flagged (20 > 4*1)
    val ref = docs(Seq((1L, "x y x z", "en", "seed")))
    val tgt = docs(Seq(
      (10L, "x y", "en", "s1"), (11L, "y x", "en", "s1"),
      (12L, "q r", "en", "s2")))
    val out = Curation.crossSurprisalReport(tgt, ref).collect()
    assert(out.toSeq === Seq(
      Row("s1", 2L, 2L, 1L, 0L, 0L),
      Row("s2", 1L, 1L, 20L, 1L, 1L)))
  }

  test("surprisalTerciles: discrete tercile cut with unscored accounting") {
    // reference trains "x y" bigrams heavily; targets score:
    //   "x y x y x y" -> all known bigrams, low millibits (head-ish)
    //   "x y q r"     -> 1 known + 2 OOV of 3 -> mid
    //   "q r s t"     -> all OOV -> 20000 millibits (tail)
    //   "solo"        -> no bigram -> unscored
    // 3 scored docs, terciles: t1 = lowest score, t2 = middle score;
    // head/middle/tail = 1/1/1 whatever the exact values.
    val ref = docs(Seq((1L, "x y x y", "en", "seed")))
    val tgt = docs(Seq(
      (10L, "x y x y x y", "en", "s"),
      (11L, "x y q r", "en", "s"),
      (12L, "q r s t", "en", "s"),
      (13L, "solo", "en", "s")))
    val out = Curation.surprisalTerciles(tgt, ref).collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getLong(1) === 3L, "scored_docs")
    assert(r.getLong(2) === 1L, "unscored_docs")
    assert((r.getLong(5), r.getLong(6), r.getLong(7)) === ((1L, 1L, 1L)),
      s"head/middle/tail: $r")
    // scores: doc10 = 0 (all known, zero-bit), doc11 = 40000/3 = 13333
    // (one known zero-bit + two 20-bit OOV bigrams), doc12 = 20000
    // (all OOV). Discrete terciles: t1 = 0, t2 = 13333.
    assert(r.getLong(3) === 0L, "t1 is the all-known doc's score")
    assert(r.getLong(4) === 13333L, "t2 is the mixed doc's score")
  }

  test("trigramCrossSurprisalReport: hand-computed stupid-backoff bits") {
    // reference: "a b c" x4, "a b d" x4. Model tables over the trigram
    // event space: tc(abc)=4, tc(abd)=4; cc(a b)=8; bc(b c)=4,
    // bc(b d)=4; uc(b)=8.
    //  T1 "a b c": trigram seen -> floor(log2(8/4)) = 1 bit
    //  T3 "x b c": unseen, backoff (b,c) seen -> 2 + floor(log2(8/4)) = 3
    //  T5 "x y z": fully novel -> flat 20; the only doc over 4 bits/tri
    //  T7 "q":     no trigram -> counted in docs, unscored
    val ref = docs((0 until 8).map(i =>
      (100L + i, if (i < 4) "a b c" else "a b d", "en", "s")))
    val tgt = docs(Seq(
      (1L, "a b c", "en", "s"), (3L, "x b c", "en", "s"),
      (5L, "x y z", "en", "s"), (7L, "q", "en", "s")))
    val r = Curation.trigramCrossSurprisalReport(tgt, ref).collect()
    assert(r.length === 1)
    assert(r(0).toSeq === Seq("s", 4L, 3L, 24L, 1L, 1L, 1L))
  }

  test("trigram terciles move where bigram terciles cannot (CCNet fidelity)") {
    // Two-word context is the distinguishing signal: under the BIGRAM
    // model all three targets score identically (every bigram equally
    // probable), so the tercile cut degenerates to head=3. The TRIGRAM
    // model knows (a,b)->x and (c,b)->y but has never seen (a,b)->y, so
    // "a b y" pays the backoff and the split genuinely separates:
    //   bigram scores:  D1=D2=D3=500 mb  -> (head, middle, tail) = (3,0,0)
    //   trigram scores: D1=D2=0, D3=3000 -> (2,0,1)
    val ref = docs((0 until 8).map(i =>
      (100L + i, if (i < 4) "a b x" else "c b y", "en", "s")))
    val tgt = docs(Seq(
      (1L, "a b x", "en", "s"), (3L, "c b y", "en", "s"),
      (5L, "a b y", "en", "s")))
    def hmt(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val r = df.collect()(0)
      (r.getLong(r.length - 3), r.getLong(r.length - 2), r.getLong(r.length - 1))
    }
    assert(hmt(Curation.surprisalTerciles(tgt, ref)) === ((3L, 0L, 0L)))
    assert(hmt(Curation.trigramSurprisalTerciles(tgt, ref)) === ((2L, 0L, 1L)))
  }

  test("tercileDownsample: head always kept; coins are the exact hash bits") {
    // 30 docs, scores 0..29 in one stratum: head 0-9, middle 10-19,
    // tail 20-29 (discrete terciles). The keep decision must equal the
    // independently-computed hash coin, doc for doc.
    val scores = (0 until 30).map(i => ("s", i.toLong, i.toLong))
      .toDF("source", "doc_id", "score")
    val ds = Curation.tercileDownsample(scores, "source")
      .select("doc_id", "bucket", "kept")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    def h60(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    for (id <- 0L until 30L) {
      val (bucket, kept) = ds(id)
      val expectBucket = if (id <= 9) "head" else if (id <= 19) "middle" else "tail"
      assert(bucket === expectBucket, s"doc $id")
      val bits = if (bucket == "head") 0 else if (bucket == "middle") 1 else 2
      assert(kept === ((h60(id) >> (60 - bits)) == 0L),
        s"doc $id ($bucket): keep decision must be the hash coin")
    }
    assert(ds.filter(_._2._1 == "head").values.forall(_._2), "head keeps all")
    // deterministic: a second draw is identical
    val again = Curation.tercileDownsample(scores, "source")
      .select("doc_id", "kept").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(again === ds.map { case (k, v) => k -> v._2 })
  }

  test("crossSurprisalReport: bigram-less docs count but contribute nothing") {
    val ref = docs(Seq((1L, "a b", "en", "seed")))
    val tgt = docs(Seq((10L, "solo", "en", "s")))
    val out = Curation.crossSurprisalReport(tgt, ref).collect()
    assert(out.toSeq === Seq(Row("s", 1L, 0L, 0L, 0L, 0L)))
  }

  // ---- removeDupSpans (q186: acting on q164's report) ---------------------

  test("removeDupSpans: cross-doc and within-doc spans cut exactly") {
    val p = words("p", 10)
    val d = docs(Seq(
      (1L, s"$p ${words("a", 5)}", "en", "s"),   // span at tokens 0-9
      (2L, s"${words("b", 7)} $p", "en", "s"),   // span at tokens 7-16
      (3L, s"$p ${words("c", 3)} $p", "en", "s"), // spans 0-9 and 13-22
      (4L, words("z", 12), "en", "s")))           // untouched
    val out = Curation.removeDupSpans(d)
      .select("doc_id", "n_tokens", "n_kept", "clean_text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) === ((15L, 5L, words("a", 5))))
    assert(out(2L) === ((17L, 7L, words("b", 7))))
    assert(out(3L) === ((23L, 3L, words("c", 3))))
    assert(out(4L) === ((12L, 12L, words("z", 12))))
  }

  test("removeDupSpans: a fully-duplicated doc empties cleanly") {
    val p = words("q", 10)
    val d = docs(Seq((1L, p, "en", "s"), (2L, p, "en", "s")))
    val out = Curation.removeDupSpans(d).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(4))).sortBy(_._1)
    assert(out.toSeq === Seq((1L, 0L, ""), (2L, 0L, "")))
  }

  // ---- cumsumByStratum ----------------------------------------------------

  test("cumsumByStratum: bit-identical to the per-stratum window on skew") {
    import org.apache.spark.sql.expressions.Window
    // One stratum 50x the others — the shape where a per-stratum window
    // collapses to a single task. The distributed form must reproduce the
    // window's running sums exactly, row for row.
    val d = ((1L to 500L).map(i => ("big", i, i % 7 + 1)) ++
      (1001L to 1010L).map(i => ("s1", i, i % 5 + 1)) ++
      (2001L to 2010L).map(i => ("s2", i, 3L)))
      .toDF("lang", "doc_id", "n")
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val expected = d.withColumn("cum", sum("n").over(w))
      .select("lang", "doc_id", "n", "cum")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    val got = Curation.cumsumByStratum(d, "lang", "doc_id", "n", buckets = 8)
      .select("lang", "doc_id", "n", "cum")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    assert(got === expected)
    // and the big stratum's cumsum genuinely spread across >1 bucket —
    // the same order-preserving bucket function, recomputed here
    val bkts = d.filter(col("lang") === "big")
      .select((conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") * 8 / lit(1L << 32)).cast("int").as("b"))
      .distinct().count()
    assert(bkts > 1, s"skewed stratum used $bkts bucket(s) — not distributed")
  }

  test("cumsumByStratum: NULL strata form their own stratum, never dropped") {
    import org.apache.spark.sql.expressions.Window
    val d = ((1L to 40L).map(i => (if (i % 4 == 0) null else s"s${i % 3}", i, i % 5 + 1)))
      .toDF("lang", "doc_id", "n")
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val expected = d.withColumn("cum", sum("n").over(w))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    val got = Curation.cumsumByStratum(d, "lang", "doc_id", "n", buckets = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    assert(got === expected)
    assert(got.count(_._1 == null) === 10L, "null-stratum rows must survive")
  }

  test("cumsumByStratum/rankByStratum: reserved columns rejected loudly") {
    val d = Seq(("en", 1L, 2L)).toDF("lang", "doc_id", "n")
    intercept[IllegalArgumentException] {
      Curation.cumsumByStratum(d.withColumn("cum", lit(0L)), "lang", "doc_id", "n")
    }
    intercept[IllegalArgumentException] {
      Curation.rankByStratum(d.withColumn("rk", lit(0L)), "lang", "doc_id")
    }
  }

  test("cumsumByStratum: NULL order keys are rejected loudly") {
    // a null id has no content-addressed position: the old window form
    // ordered such rows arbitrarily-but-silently, and the two-pass form
    // would NPE in pass 1 — both wrong answers; the contract is a loud
    // refusal from the aggregate pass 1 already runs
    val d = Seq((Some(1L), "en", 2L), (None, "en", 3L))
      .toDF("doc_id", "lang", "n")
    val ex = intercept[IllegalArgumentException] {
      Curation.cumsumByStratum(d, "lang", "doc_id", "n")
    }
    assert(ex.getMessage.contains("NULL"))
  }

  test("readPackedCorpus: epoch reshuffle is a sort-free deterministic permutation") {
    // enough docs for several sequences per stratum so a permutation is
    // observable at shard (sequence) grain
    val d = docs((0 until 12).map(i =>
      (i.toLong, words(('a' + i).toChar.toString, 7), if (i % 2 == 0) "en" else "fr", "s")))
    val base = Files.createTempDirectory("packed_epoch").toString
    Curation.writePackedCorpus(d, base, seqTokens = 10)
    def stream(epoch: Int): Seq[Seq[Any]] =
      Curation.readPackedCorpus(spark, base, epoch)._2
        .orderBy("lang", "epoch_ord", "seq", "seg_start")
        .select("lang", "seq", "doc_id", "seg_start", "seg_len")
        .collect().map(_.toSeq).toSeq
    // epoch 0 IS the written order
    assert(stream(0) ===
      Curation.readPackedCorpus(spark, base)._2
        .orderBy("lang", "seq", "seg_start")
        .select("lang", "seq", "doc_id", "seg_start", "seg_len")
        .collect().map(_.toSeq).toSeq)
    // epochs decorrelate: 1 differs from 0 and from 2; each is exactly a
    // permutation of the same segment set; and the deal is deterministic
    val (e0, e1, e2) = (stream(0), stream(1), stream(2))
    assert(e1 !== e0); assert(e2 !== e0); assert(e1 !== e2)
    assert(e1.toSet === e0.toSet); assert(e2.toSet === e0.toSet)
    assert(stream(1) === e1)
    // segments of one sequence never split apart: epoch_ord is a pure
    // function of (lang, seq), so the group stays contiguous in any
    // epoch_ord-ordered consumption — assert the functional dependency
    val keys = Curation.readPackedCorpus(spark, base, 1)._2
      .groupBy("lang", "seq").agg(countDistinct("epoch_ord").as("k"))
      .collect().map(_.getLong(2))
    assert(keys.forall(_ === 1L))
    // the reshuffle is a COLUMN, not a sort: the plan stays scan-shaped
    val plan = planText(Curation.readPackedCorpus(spark, base, 3)._2
      .queryExecution.executedPlan)
    assert(!plan.contains("Sort"), s"epoch reshuffle must not sort:\n$plan")
  }

  test("readPackedCorpus: numeric-looking strata keep the written type") {
    // partition-column type inference would read lang=1/lang=2 back as
    // INT; the loader must recover the manifest's string type or the
    // verification join reports spurious full-outer mismatches
    val d = docs(Seq(
      (1L, words("a", 12), "1", "s"), (2L, words("b", 7), "2", "s")))
    val base = Files.createTempDirectory("packed_numeric").toString
    Curation.writePackedCorpus(d, base, seqTokens = 10)
    val (manifest, segs) = Curation.readPackedCorpus(spark, base)
    assert(segs.schema("lang").dataType === manifest.schema("lang").dataType)
    assert(segs.select("lang").distinct().collect().map(_.getString(0)).toSet
      === Set("1", "2"))
  }

  test("cumsumByStratum: single-row buckets and empty frames stay exact") {
    val d = Seq(("en", 1L, 5L)).toDF("lang", "doc_id", "n")
    val one = Curation.cumsumByStratum(d, "lang", "doc_id", "n").collect()
    assert(one.map(r => (r.getString(0), r.getLong(3))).toSeq === Seq(("en", 5L)))
    val empty = Curation.cumsumByStratum(d.filter(col("n") < 0),
      "lang", "doc_id", "n").collect()
    assert(empty.isEmpty)
  }

  test("dupSpanReport: disjoint dup regions stay separate runs") {
    // Two shared 10-token phrases with unique filler between: two runs of
    // 1 window each per doc -> span 10, dup_windows 4 across both docs.
    val p1 = words("p", 10)
    val p2 = words("q", 10)
    val d = docs(Seq(
      (1L, s"$p1 ${words("a", 5)} $p2", "en", "src"),
      (2L, s"$p1 ${words("b", 7)} $p2", "en", "src")))
    val out = Curation.dupSpanReport(d).collect()
    assert(out.toSeq === Seq(Row("src", 2L, 2L, 10L, 4L)))
  }
}
