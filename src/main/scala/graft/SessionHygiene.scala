package graft

import org.apache.spark.sql.SparkSession

/** Between-query cleanup for the harness mains (Bench / Verify /
  * Profile): each harness query is an independent workload, but
  * operator-internal `persist()` calls (minhash shingle reuse) and
  * MLlib-internal caching (KMeans / pipeline fits) register blocks that
  * outlive the query. Left alone, 46 sequential queries accumulate
  * dozens of cached datasets in one 8g driver JVM — GC pressure then
  * degrades later queries by 10x+ (observed: minhash pairs 11s -> 191s
  * when run late in a polluted session). Dropping all cache entries and
  * persistent RDDs after every query keeps each measurement independent
  * of run order.
  *
  * Run it only between queries, never while a streaming query is live:
  * it also unpersists the local-mode IP snapshot a running
  * [[graft.streaming.StreamingScoring.enrich]] query joins, and that
  * query's next trigger then fails. Every harness already calls it
  * only after its queries have stopped.
  */
object SessionHygiene {
  def reset(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    // blocking: an async unpersist can still be draining while the next
    // query is timed — with 90 sequential queries the lag compounds into
    // storage-memory pressure that hit two mid-run trials for 90s+
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    // q84 must set the RocksDB state-store provider (TWS requires it) and
    // cannot restore it before its lazy plan executes — restore the
    // session default here so no later query's stateful behavior depends
    // on whether q84 ran first
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}
