package graftbench

import scala.collection.mutable

import org.apache.spark.graftbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters of one traced operation. */
final class OpCounters {
  var jobs = 0
  var constructJobs = 0
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
  private val stageSum = mutable.HashMap[Int, Long]()
  private val stageMax = mutable.HashMap[Int, Long]()

  def task(stage: Int, runMs: Long): Unit = {
    stageSum(stage) = stageSum.getOrElse(stage, 0L) + runMs
    stageMax(stage) = math.max(stageMax.getOrElse(stage, 0L), runMs)
  }

  /** Largest task's run time ÷ the total task time of its stage, for
    * the operation's busiest stage (1.0 = one task did all the work). */
  def maxTaskShare: Double =
    if (stageSum.isEmpty) 0.0
    else {
      val (stage, total) = stageSum.maxBy(_._2)
      if (total <= 0) 0.0 else stageMax(stage).toDouble / total
    }
}

/** One span: a timed call into a layer, carrying the id of the
  * operation (query or ETL pass) it belongs to. */
final case class Span(op: String, name: String, parent: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The traced run's recorder: a SparkListener plus a
  * QueryExecutionListener, attributed to operations through local
  * properties the benchmark sets on its own thread. Spans and counters
  * stay in memory until the run writes its sidecar file.
  *
  * Jobs carry their operation id in the `graftbench.op` local property
  * (and as the job group). Query-execution callbacks carry no
  * properties, so the recorder drains the listener bus at each phase
  * boundary and attributes what arrives to the phase then current.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  val ops = mutable.LinkedHashMap[String, OpCounters]()
  val spans = mutable.ArrayBuffer[Span]()
  private val stageOp = mutable.HashMap[Int, String]()
  @volatile private var current: (String, String) = (null, null)
  private val sc = spark.sparkContext

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    BusBridge.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def counters(op: String): OpCounters = synchronized {
    ops.getOrElseUpdate(op, new OpCounters)
  }

  /** Run `body` as phase `phase` of operation `op`, recording a span
    * named `name` under `parent`. */
  def phase[A](op: String, phase: String, name: String, parent: String)(body: => A): A = {
    BusBridge.drain(sc)
    counters(op)
    current = (op, phase)
    sc.setJobGroup(op, s"$name of $op", interruptOnCancel = false)
    sc.setLocalProperty(OpKey, op)
    sc.setLocalProperty(PhaseKey, phase)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      BusBridge.drain(sc)
      synchronized { spans += Span(op, name, parent, t0, t1) }
      current = (null, null)
      sc.clearJobGroup()
      sc.setLocalProperty(OpKey, null)
      sc.setLocalProperty(PhaseKey, null)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
      val c = counters(op)
      synchronized {
        c.jobs += 1
        if (e.properties.getProperty(PhaseKey) == "construct") c.constructJobs += 1
        e.stageInfos.foreach(s => stageOp(s.stageId) = op)
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(op => ops(op).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = ops(op)
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.task(e.stageId, m.executorRunTime)
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    val (op, ph) = current
    if (op != null && ph == "action") {
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
      synchronized { ops(op).planMs += ms }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  def spansJson: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map(s => Map("op" -> s.op, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))
  }
}

object Tracer {
  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"

  /** Bytes held by cached RDDs and Datasets right now. */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
