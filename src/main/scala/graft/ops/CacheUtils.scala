package graft.ops

import org.apache.spark.sql.SparkSession

/** Cache lifecycle helpers.
  *
  * Several pipelines (MinHash-LSH, tee segments) persist intermediates
  * that feed self-joins or fan-outs; the DataFrames are plan-local, so
  * callers can't unpersist them by reference. In a long-lived session
  * (service, CLI loop, bench harness) release them between units of work
  * so cached blocks don't accumulate until executor storage thrashes.
  */
object CacheUtils {

  /** Drop every cached Dataset from the shared CacheManager, then
    * unpersist every RDD the context still tracks (non-blocking).
    *
    * Unpersisting the RDDs alone leaves each CacheManager entry behind
    * with its blocks gone: a later `persist()` of the same plan (a re-run
    * map-tee source) then matches the stale entry and recomputes the
    * source once per consumer, so an external-command source of a tee
    * would run once per branch instead of once.
    */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
