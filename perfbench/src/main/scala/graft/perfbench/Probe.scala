package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Clock {
  private val base = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution, comparable with
    * the epoch-millisecond times Spark's listener events carry. */
  def nowMs: Double = base + (System.nanoTime() - nano0) / 1e6

  def jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
}

/** Engine-wide counters at one instant; differences of two snapshots give
  * a window's work. */
final case class Counters(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
    taskMs: Long, gcMs: Long, inputBytes: Long, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, spillBytes: Long, outputBytes: Long,
    planMs: Long, codegenNs: Long, codegenClasses: Long) {
  private def vec = productIterator.map(_.asInstanceOf[Long]).toVector
  def -(o: Counters): Counters = {
    val d = vec.zip(o.vec).map { case (a, b) => a - b }
    Counters(d(0), d(1), d(2), d(3), d(4), d(5), d(6), d(7), d(8), d(9),
      d(10), d(11), d(12), d(13))
  }
  def toMetrics: Map[String, Double] = Map(
    "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble,
    "spark.tasks" -> tasks.toDouble, "spark.cpu_s" -> cpuNs / 1e9,
    "spark.task_s" -> taskMs / 1e3, "spark.gc_s" -> gcMs / 1e3,
    "spark.input_bytes" -> inputBytes.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spark.shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "spark.spill_bytes" -> spillBytes.toDouble,
    "spark.output_bytes" -> outputBytes.toDouble,
    "spark.plan_s" -> planMs / 1e3, "spark.codegen_s" -> codegenNs / 1e9,
    "spark.codegen_classes" -> codegenClasses.toDouble)
}

/** One finished Spark job or stage, with the scheduler pool and the trace
  * span of the thread that submitted it. */
final case class EngineSpan(kind: String, id: Int, parentJob: Int,
    startMs: Double, endMs: Double, tasks: Int, pool: String, span: String,
    query: String)

/** Reads the engine from outside: a SparkListener for jobs, stages and
  * task metrics, a QueryExecutionListener for planning phases, and the
  * codegen compiler's own counters. */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val c = Array.fill(12)(new AtomicLong)
  private val (jobsI, stagesI, tasksI, cpuI, taskMsI, gcI, inI, shwI, shrI,
    spillI, outI, planI) = (0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, EngineSpan]
  private val stageOpen = new java.util.concurrent.ConcurrentHashMap[Int, EngineSpan]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  val finished = new ConcurrentLinkedQueue[EngineSpan]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    c(jobsI).incrementAndGet()
    val p = Option(e.properties)
    open.put(e.jobId, EngineSpan("job", e.jobId, -1, e.time.toDouble, 0.0,
      e.stageInfos.map(_.numTasks).sum,
      p.flatMap(x => Option(x.getProperty("spark.scheduler.pool"))).getOrElse(""),
      p.flatMap(x => Option(x.getProperty(Trace.SpanKey))).getOrElse(""),
      p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).getOrElse("")))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach(j => finished.add(j.copy(endMs = e.time.toDouble)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stageOpen.put(i.stageId, EngineSpan("stage", i.stageId,
      Option(stageJob.get(i.stageId)).getOrElse(-1),
      i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble, 0.0,
      i.numTasks, "",
      Option(e.properties).flatMap(x => Option(x.getProperty(Trace.SpanKey))).getOrElse(""),
      ""))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    c(stagesI).incrementAndGet()
    val i = e.stageInfo
    Option(stageOpen.remove(i.stageId)).foreach(s => finished.add(
      s.copy(endMs = i.completionTime.getOrElse(System.currentTimeMillis()).toDouble)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(tasksI).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(cpuI).addAndGet(m.executorCpuTime)
      c(taskMsI).addAndGet(m.executorRunTime)
      c(gcI).addAndGet(m.jvmGCTime)
      c(inI).addAndGet(m.inputMetrics.bytesRead)
      c(shwI).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(shrI).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(spillI).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c(outI).addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  private def planned(qe: QueryExecution): Unit =
    try c(planI).addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    catch { case _: Exception => () }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planned(qe)

  def snapshot(): Counters = {
    BenchAccess.drainListeners(spark.sparkContext)
    val v = c.map(_.get)
    Counters(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9), v(10),
      v(11), CodeGenerator.compileTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  def jobs: Seq[EngineSpan] = {
    BenchAccess.drainListeners(spark.sparkContext)
    finished.asScala.filter(_.kind == "job").toSeq
  }

  /** Milliseconds of [from, to] during which no Spark job was running. */
  def driverOnlyMs(from: Double, to: Double): Double = {
    val iv = jobs.map(j => (math.max(j.startMs, from), math.min(j.endMs, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) {
        if (!cs.isNaN) busy += ce - cs
        cs = a; ce = b
      } else ce = math.max(ce, b)
    }
    if (!cs.isNaN) busy += ce - cs
    (to - from) - busy
  }
}

/** Heap occupancy right after a full collection at the end of the run,
  * summed over the heap pools: the retained set, not the garbage between
  * collections. Sampled at that one fixed point, because the occupancy
  * after the collector's own collections depends on when they happen. */
object Heap {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported)

  def liveMb(): Double = {
    System.gc()
    System.gc()
    pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}
