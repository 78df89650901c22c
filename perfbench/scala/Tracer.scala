package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Tracer {
  /** Job-group local property carrying the traced operation's id. */
  val OpKey = "perfbench.op"
  private val MarkerColumn = "perfbench_marker_column"
}

/** Records, in memory, the raw events a traced run splits by layer:
  * spans opened by the harness around calls into the program, Spark jobs
  * and per-stage task metrics from a public `SparkListener`, and Catalyst
  * phase intervals from `QueryPlanningTracker.phases`. Nothing is
  * computed here; [[write]] dumps everything at the end of the run.
  *
  * Timestamps: spans are `System.nanoTime`; Spark events are epoch
  * milliseconds. The header line records one (nanoTime, epoch ms) pair so
  * the two can be put on one timeline.
  */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  @volatile var currentOp = ""
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  private val lines = new ConcurrentLinkedQueue[String]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stageTasks =
    new ConcurrentHashMap[Int, java.util.List[Array[Long]]]()
  @volatile private var marker = new java.util.concurrent.CountDownLatch(0)
  @volatile private var markerJob = -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).map(_.getProperty(Tracer.OpKey)).orNull
      if (op == "marker") { markerJob = e.jobId; return }
      if (op != null) {
        e.stageIds.foreach(stageOp.put(_, op))
        lines.add(s"job\t${e.jobId}\t$op\t${e.time}\t${e.stageIds.size}")
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) marker.countDown()
      else lines.add(s"jobend\t${e.jobId}\t${e.time}")
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null || !stageOp.containsKey(e.stageId)) return
      val row = Array[Long](
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
      stageTasks.computeIfAbsent(e.stageId,
        _ => java.util.Collections.synchronizedList(new java.util.ArrayList()))
        .add(row)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      if (qe.logical.toString.contains(Tracer.MarkerColumn)) marker.countDown()
      else phases("", qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases("", qe)
  }

  private def phases(op: String, qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      lines.add(s"phase\t$op\t$name\t${p.startTimeMs}\t${p.endTimeMs}")
    }

  /** Phases a DataFrame accrued while being built (eager analysis). */
  def phasesOf(df: DataFrame): Unit = phases(currentOp, df.queryExecution)

  def span(name: String, op: String, parent: String, t0: Long, t1: Long): Unit =
    lines.add(s"span\t$name\t$op\t$parent\t$t0\t$t1")

  def enable(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    enabled = true
  }

  /** Stops recording: waits until the listener bus has delivered
    * everything posted so far (on both the scheduler and the
    * query-execution queues a marker arrives after all earlier events),
    * then removes the listeners, so untraced work runs without them. */
  def disable(): Unit = {
    enabled = false
    marker = new java.util.concurrent.CountDownLatch(2)
    spark.sparkContext.setLocalProperty(Tracer.OpKey, "marker")
    spark.range(1).toDF(Tracer.MarkerColumn).write.format("noop")
      .mode("overwrite").save()
    spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
    marker.await(30, java.util.concurrent.TimeUnit.SECONDS)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Writes every record (call after the last [[disable]]). */
  def write(path: Path): Unit = {
    val sb = new StringBuilder
    sb ++= s"clock\t$nano0\t$epochMs0\n"
    lines.asScala.foreach(l => sb ++= l += '\n')
    stageTasks.asScala.foreach { case (stage, rows) =>
      val op = stageOp.get(stage)
      rows.asScala.foreach { r => sb ++= s"task\t$stage\t$op\t${r.mkString("\t")}\n" }
    }
    Files.writeString(path, sb.toString)
  }
}
