package graft.dev

import org.apache.spark.sql.SparkSession

/** Dev helper: Bench-style timing for a subset of queries at any data
  * dir (args: dir names...). Noop sink, 1 warmup + 3 timed passes,
  * cache cleared between passes — the sf1 scale-cliff probe. */
object BenchSome {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def clearState(): Unit = graft.CacheReleases.clearSession(spark)
    def runFully(name: String): Unit =
      graft.SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
    names.foreach { name =>
      try runFully(name) catch { case e: Throwable =>
        println(f"$name%-24s WARMUP FAIL: ${e.getMessage}") }
      clearState()
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        runFully(name)
        val dt = (System.nanoTime() - t0) / 1e9
        clearState()
        dt
      }.sorted
      println(f"$name%-24s median ${ts(1)}%7.2f s  (min ${ts.head}%.2f / max ${ts.last}%.2f)")
    }
    spark.stop()
  }
}
