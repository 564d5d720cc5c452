package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Pins for intermediates that several later readers scan. Each is filled
  * by one action before any reader runs: readers whose stages run at once
  * would otherwise each compute a partition not yet cached.
  */
object Pins {

  /** `df` persisted (memory and disk) and filled by one action, read in
    * place: a reader's plan holds the pin's cached plan. For pins their
    * caller releases itself (`unpersist` on the returned frame) before
    * returning. A frame persisted in one place and filled in another
    * (`Widths.pinPartitioned`, `Curation.bloomDecontaminateLazy`) is
    * filled by its own `count()`, whose row count a caller may also use.
    */
  def filled(df: DataFrame): DataFrame = {
    // Spark names a job and its SQL execution by the first frame outside
    // its own packages, which would be this `count()` for every pin: name
    // them by the line that pinned instead
    val sc = df.sparkSession.sparkContext
    val caller = Thread.currentThread.getStackTrace.toSeq.drop(1)
      .dropWhile(_.getClassName.startsWith(getClass.getName)).take(20)
    val site = Seq(
      "callSite.short" -> caller.headOption.fold("count")(f =>
        s"count at ${f.getFileName}:${f.getLineNumber}"),
      "callSite.long" ->
        ("org.apache.spark.sql.Dataset.count(Dataset.scala)" +: caller.map(_.toString))
          .mkString("\n"))
    val saved = site.map { case (k, _) => k -> sc.getLocalProperty(k) }
    site.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    try df.persist(StorageLevel.MEMORY_AND_DISK).count()
    finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    df
  }

  /** [[filled]], returned as a plan leaf: a reader's plan holds one scan
    * of the filled cache, never the pin's cached plan, so a chain of pins
    * plans and renders at the size of its last stage rather than of every
    * stage below it (AQE re-renders the whole plan on each update). The
    * leaf keeps the cache's row statistics and output partitioning, so
    * join strategies and a join on a pinned repartition's keys are the
    * same as over the cache itself. `spark.catalog.clearCache()`, or
    * `unpersist` on `df`, releases the blocks; a leaf read afterwards
    * recomputes its rows. Its fill runs as an SQL execution of its own,
    * apart from its readers' plans.
    */
  def leaf(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.LeafBridge.leaf(filled(df))
}
