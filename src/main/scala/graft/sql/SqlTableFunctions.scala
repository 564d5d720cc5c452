package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The SQL surface for the curation library's table-valued entry points:
  * `spark.sql` callers reach the headline operators WITHOUT Scala —
  *
  * {{{
  *   SELECT * FROM graft_chunk_dedup('documents')
  *   SELECT * FROM graft_bloom_decontaminate('documents', 'bench_docs')
  *   SELECT * FROM graft_pack_segments('counted', 512, 'lang', 'doc_id')
  *   SELECT * FROM graft_bm25('documents', 'spark window hash')
  *   SELECT * FROM graft_scd2('change_log', 'k', 'ts', 'status,tier', 'seq')
  *   SELECT * FROM graft_heavy_hitters('orders', 'o_custkey', 100)
  * }}}
  *
  * Each function takes TABLE/VIEW NAMES as string literals (resolved
  * against the active session's catalog at analysis time — Spark's
  * table-valued functions accept scalar arguments, so the name-literal
  * is the idiomatic bridge until TABLE() arguments reach the injection
  * API), plus the operator's tuning knobs, and returns the SAME logical
  * plan the Scala entry point builds: one code path, so the SQL route
  * inherits every scale property (two-level aggregates, Bloom bitset
  * broadcast, two-pass cumsum) and every oracle result, bit for bit —
  * q193 proves it by driving the q116 report through `spark.sql` alone.
  *
  * Listed in [[NativeCatalog]], which injects them at session build
  * (`spark.sql.extensions=graft.geo.GraftExtensions`) or installs them on
  * a session that already existed ([[graft.GraftSession.create]]).
  */
object SqlTableFunctions {

  private def strArg(exprs: Seq[Expression], i: Int, fn: String,
      what: String): String = exprs.lift(i) match {
    case Some(Literal(s: UTF8String, StringType)) => s.toString
    case Some(other) => throw new IllegalArgumentException(
      s"$fn: argument ${i + 1} ($what) must be a string literal, got $other")
    case None => throw new IllegalArgumentException(
      s"$fn: missing argument ${i + 1} ($what)")
  }

  private def strArgOr(exprs: Seq[Expression], i: Int, fn: String,
      what: String, default: String): String =
    if (exprs.length <= i) default else strArg(exprs, i, fn, what)

  private def intArgOr(exprs: Seq[Expression], i: Int, fn: String,
      what: String, default: Int): Int = exprs.lift(i) match {
    case None => default
    case Some(Literal(v: Integer, IntegerType)) => v.intValue()
    case Some(Literal(v, t)) if t == IntegerType => v.asInstanceOf[Int]
    case Some(other) => throw new IllegalArgumentException(
      s"$fn: argument ${i + 1} ($what) must be an integer literal, got $other")
  }

  private def table(name: String) = SparkSession.active.table(name)

  /** `graft_chunk_dedup(docsTable[, chunkTokens, textCol, idCol, groupCol])`
    * — [[graft.curation.Curation.chunkDedupReport]].
    */
  private def chunkDedupPlan(exprs: Seq[Expression]): LogicalPlan = {
    val fn = "graft_chunk_dedup"
    graft.curation.Curation.chunkDedupReport(
      table(strArg(exprs, 0, fn, "docs table")),
      textCol = strArgOr(exprs, 2, fn, "text column", "text"),
      idCol = strArgOr(exprs, 3, fn, "id column", "doc_id"),
      groupCol = strArgOr(exprs, 4, fn, "group column", "source"),
      chunkTokens = intArgOr(exprs, 1, fn, "chunk tokens", 20)
    ).queryExecution.logical
  }

  /** `graft_bloom_decontaminate(corpusTable, benchTable[, gramK, mBits])`
    * — [[graft.curation.Curation.bloomDecontaminate]].
    */
  private def bloomDeconPlan(exprs: Seq[Expression]): LogicalPlan = {
    val fn = "graft_bloom_decontaminate"
    graft.curation.Curation.bloomDecontaminate(
      table(strArg(exprs, 0, fn, "corpus table")),
      table(strArg(exprs, 1, fn, "benchmark table")),
      gramK = intArgOr(exprs, 2, fn, "gram width", 8),
      mBits = intArgOr(exprs, 3, fn, "bloom bits", 1 << 16)
    ).queryExecution.logical
  }

  /** `graft_pack_segments(countedTable[, seqTokens, strataCol, idCol])`
    * — [[graft.curation.Curation.packSegments]] over an already-counted
    * (strata, id, n) table.
    */
  private def packSegmentsPlan(exprs: Seq[Expression]): LogicalPlan = {
    val fn = "graft_pack_segments"
    graft.curation.Curation.packSegments(
      table(strArg(exprs, 0, fn, "counted table")),
      seqTokens = intArgOr(exprs, 1, fn, "sequence tokens", 512),
      strataCol = strArgOr(exprs, 2, fn, "strata column", "lang"),
      idCol = strArgOr(exprs, 3, fn, "id column", "doc_id")
    ).queryExecution.logical
  }

  /** `graft_bm25(docsTable, 'term1 term2 ...'[, topK])` —
    * [[graft.curation.Curation.bm25]] ranked retrieval; terms are a
    * space-separated literal.
    */
  private def bm25Plan(exprs: Seq[Expression]): LogicalPlan = {
    val fn = "graft_bm25"
    graft.curation.Curation.bm25(
      table(strArg(exprs, 0, fn, "docs table")),
      strArg(exprs, 1, fn, "terms").split("\\s+").toSeq.filter(_.nonEmpty),
      topK = intArgOr(exprs, 2, fn, "top k", 15)
    ).queryExecution.logical
  }

  /** `graft_scd2(logTable, keyCol, tsCol, 'attr1,attr2', 'tie1[,tie2]')`
    * — [[graft.ops.Scd2.fromChangeLog]]; attr and tie column lists are
    * comma-separated literals.
    */
  private def scd2Plan(exprs: Seq[Expression]): LogicalPlan = {
    val fn = "graft_scd2"
    def cols(i: Int, what: String) =
      strArg(exprs, i, fn, what).split(",").map(_.trim).toSeq.filter(_.nonEmpty)
    graft.ops.Scd2.fromChangeLog(
      table(strArg(exprs, 0, fn, "change-log table")),
      keyCols = cols(1, "key columns"),
      tsCol = strArg(exprs, 2, fn, "timestamp column"),
      attrCols = cols(3, "attribute columns"),
      tieCols = cols(4, "tie-break columns")
    ).queryExecution.logical
  }

  /** `graft_heavy_hitters(table, keyCol, threshold[, depth, width])` —
    * [[graft.ops.CountMin.heavyHitters]], the skew-diagnosis audit.
    */
  private def heavyHittersPlan(exprs: Seq[Expression]): LogicalPlan = {
    val fn = "graft_heavy_hitters"
    graft.ops.CountMin.heavyHitters(
      table(strArg(exprs, 0, fn, "input table")),
      strArg(exprs, 1, fn, "key column"),
      threshold = intArgOr(exprs, 2, fn, "threshold", 100).toLong,
      depth = intArgOr(exprs, 3, fn, "depth", 4),
      width = intArgOr(exprs, 4, fn, "width", 1024)
    ).queryExecution.logical
  }

  /** `graft_pagerank(edgesTable[, iters, scale])` — integer-exact
    * [[graft.graph.LinkGraph.pagerank]] over a (src, dst) table.
    */
  private def pagerankPlan(exprs: Seq[Expression]): LogicalPlan = {
    val fn = "graft_pagerank"
    graft.graph.LinkGraph.pagerank(
      table(strArg(exprs, 0, fn, "edges table")),
      iters = intArgOr(exprs, 1, fn, "iterations", 3),
      scale = intArgOr(exprs, 2, fn, "fixed-point scale", 1000000).toLong
    ).queryExecution.logical
  }

  /** `graft_jaccard_join(docsTable[, num, den, textCol, idCol])` — the
    * prefix-filtered set-similarity join
    * ([[graft.text.SetSimJoin.jaccardJoin]]) over distinct word sets of
    * a text column; threshold is the exact rational num/den.
    */
  private def jaccardJoinPlan(exprs: Seq[Expression]): LogicalPlan = {
    val fn = "graft_jaccard_join"
    val docs = table(strArg(exprs, 0, fn, "docs table"))
    val textCol = strArgOr(exprs, 3, fn, "text column", "text")
    val idCol = strArgOr(exprs, 4, fn, "id column", "doc_id")
    graft.text.SetSimJoin.jaccardJoin(
      docs.select(
        org.apache.spark.sql.functions.col(idCol).as("id"),
        org.apache.spark.sql.functions.array_distinct(
          graft.text.TextFunctions.tokens(
            org.apache.spark.sql.functions.col(textCol))).as("tokens")),
      num = intArgOr(exprs, 1, fn, "threshold numerator", 3),
      den = intArgOr(exprs, 2, fn, "threshold denominator", 5)
    ).queryExecution.logical
  }

  /** `graft_pps_sample(countedTable, k[, strataCol, idCol, wCol])` —
    * [[graft.curation.Curation.systematicPpsSample]] over an
    * already-counted (strata, id, w) table.
    */
  private def ppsSamplePlan(exprs: Seq[Expression]): LogicalPlan = {
    val fn = "graft_pps_sample"
    graft.curation.Curation.systematicPpsSample(
      table(strArg(exprs, 0, fn, "counted table")),
      k = intArgOr(exprs, 1, fn, "sample size", 20),
      strataCol = strArgOr(exprs, 2, fn, "strata column", "lang"),
      idCol = strArgOr(exprs, 3, fn, "id column", "doc_id"),
      wCol = strArgOr(exprs, 4, fn, "weight column", "w")
    ).queryExecution.logical
  }

  /** `graft_ann_query(queriesTable, indexPath[, nprobe, topK])` —
    * distributed batch ANN ([[graft.ml.AnnIndex.batchQuery]]) of every
    * vector in `queriesTable` (vec_id, embedding) against a persisted
    * index; the exact plan the Scala entry point builds (row-local probe
    * ranking, ADC table on the query row, one cell equi-join, bounded
    * per-query top-k). Output (q_id, vec_id, adc_dist), unordered.
    */
  private def annQueryPlan(exprs: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ann_query"
    graft.ml.AnnIndex.batchQuery(SparkSession.active,
      table(strArg(exprs, 0, fn, "queries table")),
      strArg(exprs, 1, fn, "index path"),
      nprobe = intArgOr(exprs, 2, fn, "probe cells", 2),
      topK = intArgOr(exprs, 3, fn, "top k", 10)
    ).queryExecution.logical
  }

  /** `graft_text_search(indexPath, 'term1 term2 ...'[, topK])` — BM25
    * top-k over a persisted [[graft.text.InvertedIndex]], reading only
    * the query terms' posting buckets; terms are a space-separated
    * literal (the graft_bm25 convention, served from the index instead
    * of recomputed).
    */
  private def textSearchPlan(exprs: Seq[Expression]): LogicalPlan = {
    val fn = "graft_text_search"
    graft.text.InvertedIndex.query(SparkSession.active,
      strArg(exprs, 0, fn, "index path"),
      strArg(exprs, 1, fn, "terms").split("\\s+").toSeq.filter(_.nonEmpty),
      topK = intArgOr(exprs, 2, fn, "top k", 15)
    ).queryExecution.logical
  }

  /** The table-valued entry points by SQL name, for [[NativeCatalog]]. */
  private[sql] val entries
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)] = Seq(
    "graft_chunk_dedup" -> chunkDedupPlan _,
    "graft_bloom_decontaminate" -> bloomDeconPlan _,
    "graft_pack_segments" -> packSegmentsPlan _,
    "graft_bm25" -> bm25Plan _,
    "graft_scd2" -> scd2Plan _,
    "graft_heavy_hitters" -> heavyHittersPlan _,
    "graft_pagerank" -> pagerankPlan _,
    "graft_jaccard_join" -> jaccardJoinPlan _,
    "graft_pps_sample" -> ppsSamplePlan _,
    "graft_ann_query" -> annQueryPlan _,
    "graft_text_search" -> textSearchPlan _
  ).map { case (name, build) =>
    (FunctionIdentifier(name),
      new ExpressionInfo(SqlTableFunctions.getClass.getName, name), build)
  }
}
