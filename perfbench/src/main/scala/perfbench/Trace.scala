package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One Spark job as seen by the listener, attributed to the operation
  * phase whose job description launched it ("perfbench <op> <phase>"). */
final class JobRec(val id: Int, val phase: String, val start: Long) {
  var end = 0L
  var stages = 0
  var tasks = 0
  var taskMs = 0L // summed task durations (slot time)
  var runMs = 0L // executor run time
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRows = 0L
}

/** Collects jobs, stages and task metrics per job while attached.
  * Events arrive on the listener bus thread; readers call [[drain]]
  * (which waits for the bus) before looking at the records. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]

  private def phase(desc: String): String =
    Option(desc).map(_.split(" ")) match {
      case Some(Array("perfbench", _, phase)) => phase
      case _ => "other"
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val rec = new JobRec(e.jobId, phase(
      Option(e.properties).map(_.getProperty("spark.job.description")).orNull),
      e.time)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get)
        .foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageToJob.get(e.stageId).flatMap(jobs.get)) {
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Wait for the bus, then hand out (and forget) the finished jobs. */
  def drain(spark: SparkSession): Seq[JobRec] = {
    org.apache.spark.sql.GraftBridge.waitListenerBus(spark)
    synchronized {
      val out = jobs.values.toList
      jobs.clear()
      stageToJob.clear()
      out
    }
  }
}

/** Process-wide gauges read from outside: JVM MXBeans and Spark's
  * codegen histogram. */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use right after the most recent collection, summed over
    * the heap pools. */
  def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6

  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Mean compile time (ms) over the histogram's recent samples. */
  def codegenMeanMs: Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
}
