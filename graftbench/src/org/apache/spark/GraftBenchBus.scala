// Two read-only probes the benchmark needs from package-private Spark
// members; they live in Spark's packages only for that access.
package org.apache.spark {

  /** Waits until the listener bus has delivered every queued event, so
    * counters read from a listener cover all jobs that already finished.
    */
  object GraftBenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {

  /** Number of relations currently in the session's cache manager. */
  object GraftBenchCache {
    def entries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
  }
}
