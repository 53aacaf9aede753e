package org.apache.spark.sql.perfbench

import java.nio.file.{Files, Path}
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Attributes Spark's own events to the op that caused them. The
  * harness sets the job-group local property to the id of the span it
  * is in (an op's build or action half); jobs, stages and SQL
  * executions carry that property, and tasks are attributed through
  * their stage. Planning phases come from the `QueryExecution.tracker`
  * that each SQL-execution end event carries: the object a
  * `QueryExecutionListener` would get, but tied to its execution id, so
  * it can be charged to the right op. Job and SQL execution intervals
  * become spans under the harness span. */
final class Recorder extends SparkListener {
  private var sc: SparkContext = _
  /** harness span id → (op, whether the span is the op's build half) */
  private val bySpan = new ConcurrentHashMap[Long, (Op, Boolean)]()
  private val stageOp = new ConcurrentHashMap[Int, Op]()
  private val openJobs = new ConcurrentHashMap[Int, Open]()
  private val execs = new ConcurrentHashMap[Long, Open]()
  /** SQL execution id → output path, for file writes */
  private val writePlans = new ConcurrentHashMap[Long, String]()
  private val ids = new AtomicLong(1L << 40)
  private val sparkSpans = mutable.ArrayBuffer[Span]()
  private var codegenNs0, codegenN0 = 0L

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(this)
  }

  def bind(spanId: Long, op: Op, build: Boolean): Unit = bySpan.put(spanId, (op, build))

  def begin(op: Op): Unit = {
    codegenNs0 = CodeGenerator.compileTime
    codegenN0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  }

  /** Wait until every event the op posted has been handled, then take
    * the op's codegen deltas. */
  def end(op: Op): Unit = {
    drain()
    op.codegenNs = CodeGenerator.compileTime - codegenNs0
    op.codegenN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegenN0
  }

  def drain(): Unit = sc.listenerBus.waitUntilEmpty()

  private def groupOf(props: Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
      .flatMap(_.toLongOption)

  private def newSpan(name: String, kind: String, parent: Long, op: Op, startMs: Long): Span = {
    val s = Span(ids.incrementAndGet(), name, kind, parent, op.id, startMs * 1000L, 0L)
    synchronized { sparkSpans += s }
    s
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).flatMap(g => Option(bySpan.get(g)).map(g -> _)).foreach {
      case (g, (op, build)) =>
        op.synchronized { op.jobs += 1; if (build) op.buildJobs += 1 }
        val parent = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(_.toLongOption).flatMap(x => Option(execs.get(x))).map(_.span.id)
          .getOrElse(g)
        openJobs.put(e.jobId, Open(op, newSpan(s"job${e.jobId}", "job", parent, op, e.time)))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(openJobs.remove(e.jobId)).foreach { case Open(op, s) =>
      s.endUs = e.time * 1000L
      op.synchronized { op.jobIntervals += ((s.startUs / 1000L, e.time)) }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).flatMap(g => Option(bySpan.get(g))).foreach { case (op, _) =>
      stageOp.put(e.stageInfo.stageId, op)
      op.synchronized { op.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op => op.synchronized {
      op.tasks += 1
      if (e.reason != Success) op.taskFailures += 1
      Option(e.taskMetrics).foreach { m =>
        op.cpuNs += m.executorCpuTime
        op.runMs += m.executorRunTime
        op.gcMs += m.jvmGCTime
        op.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        op.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        op.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        op.spill += m.diskBytesSpilled
        op.inputBytes += m.inputMetrics.bytesRead
        op.outputBytes += m.outputMetrics.bytesWritten
        op.outputRows += m.outputMetrics.recordsWritten
      }
    } }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.flatMap(_.toLongOption).flatMap(g => Option(bySpan.get(g)).map(g -> _))
        .foreach { case (g, (op, _)) =>
          val parent = s.rootExecutionId.filter(_ != s.executionId)
            .flatMap(r => Option(execs.get(r))).map(_.span.id).getOrElse(g)
          val span = newSpan(s"sql${s.executionId}", "sql", parent, op, s.time)
          execs.put(s.executionId, Open(op, span))
          // file writes, for the per-sink times of the ETL ops
          if (parent == g) s.physicalPlanDescription match {
            case Recorder.InsertPath(path) => writePlans.put(s.executionId, path)
            case _ => ()
          }
        }
    case end: SparkListenerSQLExecutionEnd =>
      Option(execs.get(end.executionId)).foreach { case Open(op, span) =>
        span.endUs = end.time * 1000L
        Option(end.qe).foreach(qe => phases(op, qe))
        Option(writePlans.remove(end.executionId)).foreach { path =>
          op.synchronized { op.writes += ((path, end.time - span.startUs / 1000L)) }
        }
      }
    case _ => ()
  }

  private def phases(op: Op, qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    op.synchronized {
      op.analysisMs += ms("analysis")
      op.optimizationMs += ms("optimization")
      op.planningMs += ms("planning")
    }
  }

  def spansJson(harnessSpans: Seq[Span]): Json.Raw = {
    val all = harnessSpans ++ synchronized(sparkSpans.toList)
    Json.arr(all.map(_.json): _*)
  }
}

object Recorder {
  /** Output path in a file write's plan description. */
  val InsertPath = """(?s).*Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: ([^,\s]+).*""".r
}

/** A job or SQL execution that has started and not yet ended. */
private final case class Open(op: Op, span: Span)

/** Just enough JSON writing for the harness's outputs. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(x: Any): String = x match {
    case Raw(s) => s
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => quote(String.valueOf(other))
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def arr(xs: Any*): Raw = Raw(xs.map(value).mkString("[", ",", "]"))

  def write(p: Path, r: Raw): Unit = Files.writeString(p, r.s + "\n")
}
