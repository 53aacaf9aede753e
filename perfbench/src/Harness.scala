// Lives under org.apache.spark.sql so the traced run can drain the
// listener bus (LiveListenerBus.waitUntilEmpty is private[spark]) before
// it reads an op's counters, and read the QueryExecution of a finished
// SQL execution (private[sql]); nothing else here needs Spark internals.
package org.apache.spark.sql.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.pipeline.{Etl1, Etl2}
import graft.queries._
import graft.sources.Ingest
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark. `run.py` launches it in one of two modes:
  *
  *  - `oracle key=value...`: write `SparkEntry.oracleSql` to
  *    `oracle_sql.json` and exit (no Spark session);
  *  - `run key=value...`: time JVM start → ready session (registry
  *    initialised, prelude done), then run the workload's passes as one
  *    client in a closed loop, keeping what `check.py` compares with
  *    the DuckDB oracle.
  *
  * Every op is one call into the engine's public entry points
  * (`SparkEntry.queries`, `Ingest.ingest`, `Etl1.run`, `Etl2.run`).
  * With `trace=1` a [[Recorder]] attributes Spark's job, stage, task,
  * SQL-execution and planning events to the op (and to its build or
  * action half) through the job-group local property, and spans are
  * written once at the end. Raw per-op numbers go to `result.json`;
  * `run.py` does the aggregation. */
object Harness {
  private val nanoBase = System.nanoTime()
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  /** Monotonic clock expressed in epoch microseconds, so harness spans
    * line up with Spark's epoch-millisecond event times. */
  def nowUs(): Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val kv = args.tail.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val out = Paths.get(kv("out"))
    Files.createDirectories(out)
    if (mode == "oracle") {
      Json.write(out.resolve("oracle_sql.json"), Json.obj(SparkEntry.oracleSql.toSeq: _*))
      return
    }
    val cores = kv("cores").toInt
    val trace = kv.get("trace").contains("1")
    val rec = if (trace) Some(new Recorder) else None

    val (spark, setupS, registryInitS) = setup(kv, cores, rec)
    val h = new Runner(spark, SparkEntry.queries, rec, out)
    val calibStart = calibMs()
    val workload = kv("workload")
    val inputs = kv("inputs")
    workload match {
      case "registry-sweep" =>
        // one pass in registry order, each query cold
        h.queryPass(RegistrySet, inputs, out.resolve("check"))
      case "rta-etl" =>
        val meta = new String(Files.readAllBytes(Paths.get(inputs, "metadata.json")), "UTF-8")
        val fetchMap = Files.readAllLines(Paths.get(inputs, "fetch_map.tsv")).asScala
          .map(_.split('\t')).map(a => a(0) -> Paths.get(inputs, a(1)).toString).toMap
        // the first passes warm the JIT and the codegen cache and are not
        // timed (registry-sweep is the workload that measures cold costs);
        // a single warm-up pass left the first timed pass ~10% slower
        (0 until EtlWarmupPasses).foreach(p => h.etlPass(meta, fetchMap, p))
        val deadlineUs = nowUs() + (kv("seconds").toDouble * 1e6).toLong
        var pass = EtlWarmupPasses
        do { h.etlPass(meta, fetchMap, pass); pass += 1 }
        while (nowUs() < deadlineUs)
    }
    val peakRssMb = vmHwmMb()
    val calibEnd = calibMs()

    rec.foreach(r => Json.write(out.resolve("spans.json"), r.spansJson(h.spans.toSeq)))
    Json.write(out.resolve("oracle_sql.json"), Json.obj(SparkEntry.oracleSql.toSeq: _*))
    Json.write(out.resolve("result.json"), Json.obj(
      "setup_s" -> setupS, "registry_init_s" -> registryInitS,
      "cores" -> cores, "calib_ms_start" -> calibStart, "calib_ms_end" -> calibEnd,
      "peak_rss_mb" -> peakRssMb,
      "first_timed_pass" -> (if (workload == "rta-etl") EtlWarmupPasses else 0),
      "families" -> Json.obj(families.toSeq: _*),
      "ops" -> Json.arr(h.ops.map(_.json(rec.isDefined)).toSeq: _*)))
    spark.stop()
  }

  val EtlWarmupPasses = 2

  /** Registry families in `SparkEntry.registry` order, named after the
    * module that holds them. */
  lazy val familyQueries: Seq[(String, Seq[String])] = Seq(
    "Core" -> CoreQueries.all, "Join" -> JoinQueries.all,
    "Text" -> TextQueries.all, "Vector" -> VectorQueries.all,
    "Event" -> EventQueries.all, "Analytics" -> AnalyticsQueries.all,
    "Star" -> StarQueries.all, "Stream" -> StreamQueries.all,
    "Graph" -> GraphQueries.all, "Warehouse" -> WarehouseQueries.all,
    "Stat" -> StatQueries.all, "Similarity" -> SimilarityQueries.all)
    .map { case (f, qs) => f -> qs.map(_.name) }

  lazy val families: Map[String, String] =
    familyQueries.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap

  /** The whole registry costs ~110 s cold on 4 cores, more than one
    * benchmark run can spend. The sweep takes every `RegistryStride`-th
    * query of each family, in registry order, so every family is in it
    * in proportion to its size, plus the two queries whose iterative
    * operators (`ops.Components`, `ops.KMeans`) run the most jobs. */
  val RegistryStride = 12
  val Iterative: Seq[String] = Seq("q_dedup_components", "q_semantic_clusters")
  lazy val RegistrySet: Seq[String] = (familyQueries.flatMap { case (_, qs) =>
    qs.zipWithIndex.collect { case (q, i) if i % RegistryStride == 0 => q }
  } ++ Iterative).distinct

  /** JVM start → session with the registry initialised and the prelude
    * (two cheap plans end to end) done. */
  private def setup(kv: Map[String, String], cores: Int, rec: Option[Recorder])
      : (SparkSession, Double, Double) = {
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", kv("out") + "/spark-local")
      .config("spark.sql.warehouse.dir", kv("out") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.foreach(_.attach(spark))
    val r0 = System.nanoTime()
    val queries = SparkEntry.queries
    val registryInitS = (System.nanoTime() - r0) / 1e9
    Seq("q1_pricing_summary", "q_counts").foreach { n =>
      queries(n)(spark, kv("fixture")).write.mode("overwrite").format("noop").save()
    }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    rec.foreach(_.drain())
    (spark, (nowUs() - jvmStartUs) / 1e6, registryInitS)
  }

  /** Fixed-work single-thread probe (the `graft.Bench` calibration):
    * reads higher when the host is stalled. */
  def calibMs(): Double = {
    def once(): Double = {
      val t1 = System.nanoTime()
      var x = 0L; var i = 0
      while (i < 20000000) { x += i * 2654435761L; i += 1 }
      if (x == 42L) println(x)
      (System.nanoTime() - t1) / 1e6
    }
    once(); Seq(once(), once(), once()).sorted.apply(1)
  }

  /** The driver's peak resident set (VmHWM), in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** One traced interval. Times are epoch microseconds. */
final case class Span(id: Long, name: String, kind: String, parent: Long,
    trace: Long, var startUs: Long, var endUs: Long) {
  def json: Json.Raw = Json.obj("id" -> id, "name" -> name, "kind" -> kind,
    "parent" -> parent, "trace" -> trace, "start_us" -> startUs, "end_us" -> endUs)
}

/** One engine call, with the counters the [[Recorder]] attributes to it. */
final class Op(val id: Long, val name: String, val pass: Int) {
  var startUs, endUs, buildUs, actionUs = 0L
  var ok = true
  var jobs, buildJobs, stages, tasks, taskFailures = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]() // epoch ms
  var cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, fetchWaitMs = 0L
  var spill, inputBytes, outputBytes, outputRows = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var codegenNs, codegenN = 0L
  var confChanged, cachedLeft = 0
  var outputDirBytes = 0L
  val writes = mutable.ArrayBuffer[(String, Long)]() // (output path, ms)

  def json(traced: Boolean): Json.Raw = {
    val base = Seq[(String, Any)]("name" -> name, "pass" -> pass, "ok" -> ok,
      "start_us" -> startUs, "end_us" -> endUs,
      "wall_s" -> (endUs - startUs) / 1e6, "build_s" -> buildUs / 1e6,
      "action_s" -> actionUs / 1e6, "output_dir_bytes" -> outputDirBytes)
    val more: Seq[(String, Any)] = if (!traced) Nil else {
      Seq("jobs" -> jobs, "build_jobs" -> buildJobs, "stages" -> stages,
        "tasks" -> tasks, "task_failures" -> taskFailures,
        "job_intervals_ms" -> Json.arr(jobIntervals.map { case (a, b) => Json.arr(a, b) }.toSeq: _*),
        "cpu_s" -> cpuNs / 1e9, "run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3,
        "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
        "fetch_wait_s" -> fetchWaitMs / 1e3, "spill_bytes" -> spill,
        "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
        "output_rows" -> outputRows, "analysis_s" -> analysisMs / 1e3,
        "optimization_s" -> optimizationMs / 1e3, "planning_s" -> planningMs / 1e3,
        "codegen_s" -> codegenNs / 1e9, "codegen_n" -> codegenN,
        "conf_keys_changed" -> confChanged, "cached_rdds_left" -> cachedLeft,
        "writes" -> Json.arr(writes.map { case (p, ms) =>
          Json.obj("path" -> p, "s" -> ms / 1e3) }.toSeq: _*))
    }
    Json.obj(base ++ more: _*)
  }
}

/** Times ops, tags them for the [[Recorder]], and resets the session
  * between them. */
final class Runner(spark: SparkSession,
    queries: Map[String, (SparkSession, String) => DataFrame],
    rec: Option[Recorder], out: Path) {
  val ops = mutable.ArrayBuffer[Op]()
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  private def newId(): Long = { nextId += 1; nextId }
  private val sc = spark.sparkContext
  private val runSpan = Span(newId(), "run", "run", 0L, 0L, Harness.nowUs(), 0L)
  spans += runSpan
  private val baseConf: Map[String, String] = spark.conf.getAll

  /** Drop everything an op may have cached, and put back the session
    * conf the op changed, so each op starts from the same state. */
  def clearState(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    graft.CacheReleases.releaseAll()
    val now = spark.conf.getAll
    (now.keySet ++ baseConf.keySet).foreach { k =>
      if (now.get(k) != baseConf.get(k)) {
        try baseConf.get(k) match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        } catch { case _: Throwable => () }
      }
    }
  }

  private def confDiff(): Int = {
    val now = spark.conf.getAll
    (now.keySet ++ baseConf.keySet).count(k => now.get(k) != baseConf.get(k))
  }

  /** Run `body` as span `name` under `parent`; jobs started inside carry
    * the span id as their job group. */
  private def span(op: Op, parent: Span, name: String, kind: String)(body: => Unit): Span = {
    val s = Span(newId(), name, kind, parent.id, op.id, Harness.nowUs(), 0L)
    spans += s
    rec.foreach(_.bind(s.id, op, kind == "build"))
    sc.setLocalProperty(SparkContext.SPARK_JOB_GROUP_ID, s.id.toString)
    try body finally {
      sc.setLocalProperty(SparkContext.SPARK_JOB_GROUP_ID, null)
      s.endUs = Harness.nowUs()
    }
    s
  }

  /** Time one engine call: `build` returns a lazy result, `action` runs
    * it; returns the op and what `build` returned. */
  private def timeOp(name: String, pass: Int, passSpan: Span)(
      build: () => Any, action: Any => Unit): (Op, Any) = {
    val op = new Op(newId(), name, pass)
    ops += op
    val opSpan = Span(op.id, name, "op", passSpan.id, op.id, 0L, 0L)
    spans += opSpan
    rec.foreach(_.begin(op))
    op.startUs = Harness.nowUs()
    var built: Any = null
    try {
      val b = span(op, opSpan, "build", "build") { built = build() }
      op.buildUs = b.endUs - b.startUs
      val a = span(op, opSpan, "action", "action") { action(built) }
      op.actionUs = a.endUs - a.startUs
    } catch { case e: Throwable =>
      op.ok = false
      built = null
      System.err.println(s"[perfbench] $name failed: $e")
    }
    op.endUs = Harness.nowUs()
    opSpan.startUs = op.startUs
    opSpan.endUs = op.endUs
    rec.foreach { r =>
      r.end(op)
      op.confChanged = confDiff()
      op.cachedLeft = sc.getPersistentRDDs.size
    }
    (op, built)
  }

  /** One pass over `names`, each query timed to the end of a noop write.
    * After the timing, and before the session is reset, the same frame
    * is written to `checkDir/<name>` for the oracle compare (untimed). */
  def queryPass(names: Seq[String], dir: String, checkDir: Path): Unit = {
    val ps = Span(newId(), "pass0", "pass", runSpan.id, 0L, Harness.nowUs(), 0L)
    spans += ps
    names.foreach { n =>
      val (op, built) = timeOp(n, 0, ps)(
        () => queries(n)(spark, dir),
        df => df.asInstanceOf[DataFrame].write.mode("overwrite").format("noop").save())
      if (op.ok) {
        try built.asInstanceOf[DataFrame].coalesce(1).write.mode("overwrite")
          .parquet(checkDir.resolve(n).toString)
        catch { case e: Throwable => System.err.println(s"[perfbench] check write $n: $e") }
      }
      clearState()
    }
    ps.endUs = Harness.nowUs()
  }

  def etlPass(meta: String, fetchMap: Map[String, String], pass: Int): Unit = {
    val root = out.resolve("etl")
    val landing = root.resolve("landing").toString
    val stage = root.resolve("stage").toString
    val gold = root.resolve("gold").toString
    Runner.deleteTree(root)
    val ps = Span(newId(), s"pass$pass", "pass", runSpan.id, 0L, Harness.nowUs(), 0L)
    spans += ps
    val fetch: Ingest.Fetch = url => Files.readAllBytes(Paths.get(fetchMap(url)))
    val steps: Seq[(String, String, () => Unit)] = Seq(
      ("sources.ingest", landing, () => { Ingest.ingest(spark, meta, landing, fetch); () }),
      ("pipeline.etl1", stage, () => Etl1.run(spark, landing, stage)),
      ("pipeline.etl2", gold, () => Etl2.run(spark, stage, gold)))
    var ok = true
    steps.foreach { case (name, dest, call) =>
      if (ok) {
        val (op, _) = timeOp(name, pass, ps)(call, _ => ())
        ok = op.ok
        op.outputDirBytes = Runner.treeBytes(Paths.get(dest))
        clearState()
      }
    }
    ps.endUs = Harness.nowUs()
  }
}

object Runner {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.delete)
  }

  /** Bytes of data files under `p` (hidden and marker files excluded). */
  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else
    Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_"))
      .map(Files.size).sum
}
