package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Attributes Spark jobs and stage counters to the layer call they ran
  * inside. The caller thread tags every call with two local properties
  * (`Recorder.Call`, `Recorder.Phase`); jobs carry them, including the
  * micro-batch jobs of a streaming query started from that thread, whose
  * thread inherits the caller's properties. Micro-batch jobs also carry
  * Spark's streaming query id; their stages are counted under the call tag
  * plus `Recorder.StreamSuffix`, so the streaming layer reads apart from
  * the batch work of the same call. With `detailed` off only jobs are
  * recorded, which is what the untraced run's correctness checks need.
  */
final class Recorder(detailed: Boolean) extends SparkListener {
  import Recorder._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageCall = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, Counters]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val streaming = prop(StreamingQueryId).nonEmpty
    val call = prop(Call)
    jobs.put(e.jobId, Job(call, prop(Phase), streaming, e.time))
    if (detailed) e.stageIds.foreach(stageCall.put(_, if (streaming) call + StreamSuffix else call))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (detailed && m != null) {
      val c = counters.computeIfAbsent(
        stageCall.getOrDefault(e.stageInfo.stageId, ""), _ => new Counters)
      c.synchronized {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.scanBytes += m.inputMetrics.bytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Jobs whose call tag satisfies `p`, after draining the listener bus. */
  def jobsOf(sc: SparkContext)(p: String => Boolean): Seq[Job] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    jobs.values.asScala.filter(j => p(j.call)).toSeq
  }

  /** Summed stage counters of the calls whose tag satisfies `p`. */
  def countersOf(sc: SparkContext)(p: String => Boolean): Counters = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val sum = new Counters
    counters.asScala.foreach { case (k, c) => if (p(k)) sum.add(c) }
    sum
  }
}

object Recorder {
  val Call = "perfbench.call"
  val Phase = "perfbench.phase"
  val StreamSuffix = "#streaming"
  private val StreamingQueryId = "sql.streaming.queryId"

  final case class Job(call: String, phase: String, streaming: Boolean, start: Long) {
    @volatile var end: Long = -1L
  }

  final class Counters {
    var runMs, cpuNs, shuffleWriteBytes, scanBytes, spillBytes = 0L
    def add(o: Counters): Unit = {
      runMs += o.runMs; cpuNs += o.cpuNs; shuffleWriteBytes += o.shuffleWriteBytes
      scanBytes += o.scanBytes; spillBytes += o.spillBytes
    }
  }

  /** Milliseconds of [from, to] covered by at least one job interval. */
  def covered(jobs: Seq[Job], from: Long, to: Long): Long = {
    val iv = jobs.map(j => (math.max(j.start, from), math.min(if (j.end < 0) to else j.end, to)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    iv.foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }
}
