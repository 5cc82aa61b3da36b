package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Counters for the traced run, from Spark's public listener bus only.
  *
  * Every Spark job carries its caller's job group: the op id for a
  * benchmark read (set by [[Harness.runOp]]), the query's run id for a
  * micro-batch. Stages, tasks and their metrics roll up to the group of
  * the job that ran them; SQL executions roll up through the jobs they
  * started. Events arrive on the listener thread, after the fact, so
  * [[snapshot]] waits for the counts to settle before reading them.
  */
final class Trace {
  /** Per-group counters; `Acc` fields are only touched by the bus thread. */
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskMs = 0L; var cpuNs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var bytesRead = 0L; var files = 0L
    var analysisMs = 0L; var optimizerMs = 0L; var physicalMs = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val groups = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val pendingExec = new ConcurrentHashMap[Long, SparkListenerSQLExecutionEnd]()
  @volatile private var events = 0L
  @volatile private var compiles0 = 0L
  @volatile private var compileNs0 = 0L

  private def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events += 1
      val p = Option(e.properties)
      val g = p.flatMap(x => Option(x.getProperty(Trace.JobGroup)))
        .getOrElse("other")
      acc(g).jobs += 1
      e.stageIds.foreach(s => stageGroup.put(s, g))
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .foreach { id =>
          execGroup.put(id.toLong, g)
          Option(pendingExec.remove(id.toLong)).foreach(planning)
        }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events += 1
      acc(stageGroup.getOrDefault(e.stageInfo.stageId, "other")).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events += 1
      val a = acc(stageGroup.getOrDefault(e.stageId, "other"))
      a.tasks += 1
      a.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      Option(e.taskMetrics).foreach { m =>
        a.taskMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.bytesRead += m.inputMetrics.bytesRead
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        events += 1
        if (execGroup.containsKey(end.executionId)) planning(end)
        else pendingExec.put(end.executionId, end)
      case _ => ()
    }
  }

  /** Planner phase times and scanned-file counts of one SQL execution. */
  private def planning(end: SparkListenerSQLExecutionEnd): Unit = {
    val a = acc(execGroup.get(end.executionId))
    // `qe` is Spark-internal on the Scala side; read it as the JVM sees it
    val qe = end.getClass.getMethod("qe").invoke(end)
      .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
    if (qe != null) {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
      a.analysisMs += ms("analysis")
      a.optimizerMs += ms("optimization")
      a.physicalMs += ms("planning")
      a.files += scannedFiles(qe.executedPlan)
    }
  }

  private def scannedFiles(p: SparkPlan): Long = {
    val own = p.metrics.get("numFiles").map(_.value).getOrElse(0L)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec        => Seq(s.plan)
      case _                        => p.children ++ p.subqueries
    }
    own + kids.map(scannedFiles).sum
  }

  /** Start of the measured window: forget set-up, zero the codegen base. */
  def reset(): Unit = {
    settle()
    groups.clear()
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    compileNs0 = CodeGenerator.compileTime
  }

  /** Block until no listener event has arrived for 300 ms. */
  private def settle(): Unit = {
    var last = -1L
    while (last != events) { last = events; Thread.sleep(300) }
  }

  /** Counters of the measured window: one entry per op, one per stream
    * run id, process-wide codegen deltas, and task intervals per op for
    * the driver-only time.
    */
  def snapshot(ops: Seq[Harness.Op]): Map[String, Any] = {
    settle()
    def row(a: Acc): Map[String, Any] = Map(
      "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
      "task_ms" -> a.taskMs, "cpu_ms" -> a.cpuNs / 1e6,
      "shuffle_write_bytes" -> a.shuffleWrite, "shuffle_read_bytes" -> a.shuffleRead,
      "spill_bytes" -> a.spill, "bytes_read" -> a.bytesRead, "files" -> a.files,
      "analysis_ms" -> a.analysisMs, "optimizer_ms" -> a.optimizerMs,
      "physical_ms" -> a.physicalMs,
      "task_intervals_ms" -> a.intervals.toSeq.map { case (s, e) => Seq(s, e) })
    val opIds = ops.map(_.id).toSet
    val all = groups.asScala.toMap
    Map(
      "ops" -> all.filter { case (g, _) => opIds(g) }.map { case (g, a) => g -> row(a) },
      "other" -> all.filterNot { case (g, _) => opIds(g) }.map { case (g, a) => g -> row(a) },
      "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0),
      "codegen_compile_ms" -> (CodeGenerator.compileTime - compileNs0) / 1e6)
  }
}

object Trace {
  private val JobGroup = "spark.jobGroup.id"

  def install(spark: SparkSession): Trace = {
    val t = new Trace
    spark.sparkContext.addSparkListener(t.listener)
    t
  }
}
