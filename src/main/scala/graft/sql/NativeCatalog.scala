package graft.sql

import graft.geo.{ContainsPoint, RectClipArea, SpatialFilterRule, StReproject, StSimplify}
import graft.ml.{JlSketch, VecArgmaxCell, VecDot}
import graft.text.{BpeEncode, MinHashSig, NfcNormalize, ShingleHashSet, SimHash60,
  SortedIntersectCount, SubwordTokenize, WordShingles}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's whole SQL surface in one place: the 15 scalar native
  * expressions by SQL name, the table-valued entry points of
  * [[SqlTableFunctions]], and [[SpatialFilterRule]].
  *
  * Two ways in, one list. [[graft.geo.GraftExtensions]] injects it while
  * a session is built; [[install]] adds it to a session that already
  * existed when the extension would have run (spark-shell, notebooks),
  * which `getOrCreate` hands back without applying extensions. The
  * Column-API wrappers (`VecOps.dot`, `TextSketch.minhashSig`, ...) do
  * not look names up here: they build their expression directly through
  * [[org.apache.spark.sql.graft.ColumnBridge]].
  */
object NativeCatalog {

  private type Builder = Seq[Expression] => Expression

  private def scalar(name: String, cls: Class[_ <: Expression])(build: Builder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  val scalars: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    scalar("st_rect_clip_area", classOf[RectClipArea])(RectClipArea(_)),
    scalar("st_contains_point", classOf[ContainsPoint])(ContainsPoint(_)),
    scalar("st_simplify", classOf[StSimplify])(StSimplify(_)),
    scalar("st_reproject", classOf[StReproject])(StReproject(_)),
    scalar("vec_dot", classOf[VecDot])(VecDot(_)),
    scalar("vec_argmax_cell", classOf[VecArgmaxCell])(VecArgmaxCell(_)),
    scalar("graft_jl_sketch", classOf[JlSketch])(JlSketch(_)),
    scalar("minhash_sig", classOf[MinHashSig])(MinHashSig(_)),
    scalar("simhash60", classOf[SimHash60])(SimHash60(_)),
    scalar("word_shingles", classOf[WordShingles])(WordShingles(_)),
    scalar("shingle_hash_set", classOf[ShingleHashSet])(ShingleHashSet(_)),
    scalar("sorted_intersect_count", classOf[SortedIntersectCount])(SortedIntersectCount(_)),
    scalar("nfc_normalize", classOf[NfcNormalize]) { exprs =>
      require(exprs.length == 1, "nfc_normalize expects 1 argument")
      NfcNormalize(exprs.head)
    },
    scalar("subword_tokenize", classOf[SubwordTokenize])(SubwordTokenize(_)),
    scalar("graft_bpe_encode", classOf[BpeEncode])(BpeEncode(_)))

  /** Session-build injection — the body of [[graft.geo.GraftExtensions]]. */
  def inject(ext: SparkSessionExtensions): Unit = {
    scalars.foreach(ext.injectFunction)
    SqlTableFunctions.entries.foreach(ext.injectTableFunction)
    ext.injectOptimizerRule(_ => SpatialFilterRule)
  }

  /** Idempotent install on a built session: registers only the names it
    * lacks and appends [[SpatialFilterRule]] only when no optimizer batch
    * runs it yet. On a session the extension built, this changes nothing.
    */
  def install(spark: SparkSession): Unit = {
    val functions = spark.sessionState.functionRegistry
    scalars.foreach { case (id, info, build) =>
      if (!functions.functionExists(id)) functions.registerFunction(id, info, build)
    }
    val tableFunctions = spark.sessionState.tableFunctionRegistry
    SqlTableFunctions.entries.foreach { case (id, info, build) =>
      if (!tableFunctions.functionExists(id)) tableFunctions.registerFunction(id, info, build)
    }
    if (!spark.sessionState.optimizer.batches.exists(_.rules.contains(SpatialFilterRule)))
      spark.experimental.extraOptimizations :+= SpatialFilterRule
  }
}
