package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Cache-sweep seam for the bench/verify drivers (r14).
  *
  * The old sweep (`getPersistentRDDs` + `rdd.unpersist()`) freed the cached
  * BLOCKS but left the CacheManager REGISTRATION behind. Queries persist
  * intra-query diamonds built from shared helpers (ConnectedComponents'
  * edge cache, dd13/dd17's fingerprint relation, pipe-family stages), so a
  * LATER query re-persisting a canonically-equal plan hit the registration,
  * logged "Asked to cache already cached data", and silently got a DEAD
  * InMemoryRelation: its diamond recomputed through the columnar encode on
  * every consumption — worse than never persisting, and it skewed per-query
  * bench times for every query downstream of a same-shaped predecessor
  * (er3/er4 after er2, dd8/dd16 after dd7, ...).
  *
  * [[sweepExcept]] removes the registrations themselves via
  * `CacheManager.uncacheQuery` (which also unpersists), so a later
  * re-persist of the same canonical plan WORKS again. `keep` relations are
  * matched by `sameResult`, never by identity, so a keep handle protects
  * its canonical twin entries too. `graft.Bench` and `graft.Verify` keep
  * nothing.
  *
  * The only non-public surface touched is the enumeration of current
  * entries (`CacheManager.cachedData` is class-private — read
  * reflectively). If that field moves in a future Spark, the sweep falls
  * back to `clearCache()`, which drops the `keep` entries too: each query
  * still persists what it needs itself, so results are unchanged.
  */
object GraftCaches {

  private lazy val cachedDataAccessor: Option[java.lang.reflect.Method] =
    try {
      val m = classOf[execution.CacheManager].getDeclaredMethod("cachedData")
      m.setAccessible(true)
      Some(m)
    } catch { case _: Throwable => None }

  /** Uncache (registration + blocks) every CacheManager entry whose plan
    * does not `sameResult` one of `keep`'s plans.
    */
  def sweepExcept(spark: SparkSession, keep: Seq[Dataset[_]]): Unit = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val cm = session.sharedState.cacheManager
    val keepPlans: Seq[LogicalPlan] =
      keep.map(_.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed)
    cachedDataAccessor match {
      case Some(m) =>
        try {
          val entries = m.invoke(cm)
            .asInstanceOf[IterableOnce[execution.CachedData]]
            .iterator.toList
          entries.foreach { cd =>
            if (!keepPlans.exists(kp => cd.plan.sameResult(kp)))
              cm.uncacheQuery(session, cd.plan, cascade = false,
                blocking = false)
          }
        } catch { case _: Throwable => cm.clearCache() }
      case None => cm.clearCache()
    }
  }
}
