package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer. `group` is the Spark job group set around
  * the call, so the jobs it caused can be found in the trace; times are
  * epoch milliseconds (the clock Spark stamps job events with) and `wallNs`
  * is the same interval on the monotonic clock. */
final case class Span(layer: String, group: String, startMs: Long, endMs: Long, wallNs: Long)

/** Thread-safe, in-memory span log: written out once, when the run ends. */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]

  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized { buf.toList }
}

/** Counters of one Spark job, summed over the tasks of the stages it ran. */
final class JobRecord(val id: Int, val group: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

object JobTrace {
  val Untraced = "untraced:"
}

/** The benchmark's one SparkListener: job intervals and per-job task
  * counters, keyed by the job group the benchmark set around each call.
  * A stage shared by several jobs is charged to the first job that
  * submitted it. Jobs of groups marked untraced are not recorded: they
  * are the control half of the tracing-overhead measurement. */
final class JobTrace extends SparkListener {
  import JobTrace.Untraced
  private val jobs = new ConcurrentHashMap[Int, JobRecord]()
  private val stageJob = new ConcurrentHashMap[Int, JobRecord]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group == null || !group.startsWith(Untraced)) {
      val rec = new JobRecord(e.jobId, group, e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(stageJob.putIfAbsent(_, rec))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (rec != null && m != null) rec.synchronized {
      rec.tasks += 1
      rec.cpuNs += m.executorCpuTime
      rec.gcMs += m.jvmGCTime
      rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def records: Seq[JobRecord] = jobs.values.asScala.toSeq.sortBy(_.id)
}
