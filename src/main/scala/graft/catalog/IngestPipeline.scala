package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.GraftExpr

import graft.ingest.GranuleSource

/** End-to-end ingest (the engine's recipe `main`, SURVEY.md §3.1):
  * granule source → item assembly → catalog upsert, one Catalyst plan
  * per action, no driver-side materialization. `postprocess` is the
  * user hook point (`postprocess_item`, avhrr recipe.py:77-78,130).
  */
object IngestPipeline {

  /** itemsIngested/castErrors count THIS run's delta; catalogSize is
    * the post-merge total. */
  case class IngestResult(
      itemsIngested: Long, castErrors: Long, catalogSize: Long)

  def run(
      spark: SparkSession,
      source: GranuleSource,
      catalogPath: String,
      postprocess: DataFrame => DataFrame = identity,
      initial: Boolean = false,
      xstac: Option[ItemAssembly.XstacKwargs] = None): IngestResult = {
    // one scan of the (possibly remote/expensive) source: the
    // checkpointed delta feeds assembly, both counts, and the write,
    // and is released before return
    val granules = source.granules(spark).localCheckpoint()
    try {
      val (items, errors) = ItemAssembly.assemble(granules, xstac)
      val finalItems = postprocess(items)
      val nItems = finalItems.count()
      if (initial) CatalogStore.write(finalItems, catalogPath)
      else CatalogStore.upsert(spark, catalogPath, finalItems)
      IngestResult(nItems, errors.count(),
        CatalogStore.read(spark, catalogPath).count())
    } finally GraftExpr.releaseLocalCheckpoint(granules)
  }
}
