package graft

/** Round-14 persist hygiene (VERDICT r13 item 8): builders that
  * persist frames consumed by their RETURNED lazy plan register them
  * in CacheReleases, so a library caller can release them after the
  * terminal action instead of leaking one cached corpus per call. */
class CacheReleasesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def clearAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  test("q_lm_perplexity persists are released by CacheReleases") {
    clearAll() // other suites share this session; start from zero
    val df = SparkEntry.queries("q_lm_perplexity")(spark, dir)
    df.write.mode("overwrite").format("noop").save() // terminal action
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "sanity: the builder should have persisted its shared frames")
    CacheReleases.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "releaseAll must drop every registered persist")
  }

  test("the harness clear drains the release queue") {
    clearAll()
    val df = SparkEntry.queries("q_lm_perplexity")(spark, dir)
    df.write.mode("overwrite").format("noop").save()
    assert(CacheReleases.pending > 0,
      "sanity: the builder should have registered its shared frames")
    CacheReleases.clearSession(spark) // Bench/Verify between queries
    assert(CacheReleases.pending === 0,
      "the harness clear must not leave frames referenced in the queue")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("q_cms_heavy_hitters leaves no persistent RDDs behind") {
    clearAll()
    val df = SparkEntry.queries("q_cms_heavy_hitters")(spark, dir)
    df.write.mode("overwrite").format("noop").save()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "the builder unpersists its terms frame after its driver probes")
  }
}
