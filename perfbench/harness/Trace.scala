package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One Spark job, attributed to the operation and phase whose local
  * properties were set when it was submitted. `site` is Spark's short call
  * site ("parquet at Tables.scala:20"): the innermost frame outside Spark
  * and Scala that launched the job. */
final case class JobRec(op: String, phase: String, site: String,
                        stages: Seq[Int], start: Long, var end: Long = -1L)

final case class TaskRec(stage: Int, durationMs: Long, runMs: Long,
                         waitMs: Long, shuffleWrite: Long, shuffleRead: Long,
                         spill: Long, failed: Boolean)

/** SparkListener for the traced run. It only records; [[Harness]] reads
  * the records after draining the listener bus at the end of the run. */
class Tracer extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs.put(e.jobId, JobRec(prop(Tracer.OpKey), prop(Tracer.PhaseKey), site,
      e.stageIds, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = e.taskMetrics
    val dur = info.duration
    val (run, deser, ser, shW, shR, spill) =
      if (m == null) (0L, 0L, 0L, 0L, 0L, 0L)
      else (m.executorRunTime, m.executorDeserializeTime, m.resultSerializationTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled)
    // scheduler delay as the Spark UI computes it, plus deserialization
    val gettingResult = if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
    val delay = math.max(0L, dur - run - deser - ser - gettingResult)
    tasks.add(TaskRec(e.stageId, dur, run, delay + deser, shW, shR, spill,
      e.reason != Success))
  }

  def jobOf(stage: Int): Option[JobRec] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))
}

object Tracer {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  /** Wait until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBridge.drain(sc)
}

/** The JVM's own counters. */
object Jvm {
  /** Collect fully, then read the heap in use: the live set. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU time of every thread of this process. */
  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
}
