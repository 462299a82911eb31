package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters of one scoped call. `execMs` is the wall time covered by
  * the scope's jobs (the union of their start..end intervals). */
final case class Counts(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
    gcMs: Long, shuffleWriteBytes: Long, recordsRead: Long, bytesRead: Long,
    execMs: Long) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskMs + o.taskMs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes, recordsRead + o.recordsRead,
    bytesRead + o.bytesRead, execMs + o.execMs)
}

object Counts {
  val zero: Counts = Counts(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Listener that attributes job, stage and task events to the job group
  * they ran under. Each scoped call gets a fresh group id, so events of one
  * call can never land in another. Counters are atomic: the listener bus
  * thread writes them while the client thread reads finished scopes. */
final class ScopedCounters(sc: SparkContext) extends SparkListener {
  private final class Acc {
    val jobs, stages, tasks, taskMs, gcMs, shuffleWrite, recordsRead,
      bytesRead = new AtomicLong
    val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  }
  private val accs = new ConcurrentHashMap[String, Acc]
  private val stageScope = new ConcurrentHashMap[Int, String]
  private val jobScope = new ConcurrentHashMap[Int, String]
  private val jobStart = new ConcurrentHashMap[Int, Long]
  private val seq = new AtomicLong
  sc.addSparkListener(this)

  private def acc(scope: String): Acc = if (scope == null) null else accs.get(scope)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val scope = Option(e.properties).map(_.getProperty(org.apache.spark.perfbench.BusDrain.JobGroupKey)).orNull
    val a = acc(scope)
    if (a != null) {
      a.jobs.incrementAndGet()
      jobScope.put(e.jobId, scope)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(id => stageScope.put(id, scope))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val scope = jobScope.remove(e.jobId)
    val a = acc(scope)
    if (a != null) a.intervals.add((jobStart.remove(e.jobId), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageScope.get(e.stageInfo.stageId))
    if (a != null) a.stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageScope.get(e.stageId))
    val m = e.taskMetrics
    if (a != null) {
      a.tasks.incrementAndGet()
      if (m != null) {
        a.taskMs.addAndGet(m.executorRunTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        a.bytesRead.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  /** Run `body` under a fresh job group and return its counters. The drain
    * waits for the listener bus to deliver every event posted so far; the
    * scope is then complete only if every job it saw start has ended. */
  def scoped[T](name: String)(body: => T): (T, Counts) = {
    val scope = s"perfbench-${seq.incrementAndGet()}-$name"
    val a = new Acc
    accs.put(scope, a)
    sc.setJobGroup(scope, name, interruptOnCancel = false)
    val out =
      try body
      catch { case t: Throwable => accs.remove(scope); throw t }
      finally sc.clearJobGroup()
    org.apache.spark.perfbench.BusDrain(sc)
    accs.remove(scope)
    val open = jobScope.asScala.count(_._2 == scope)
    require(open == 0, s"$name: $open job(s) of the scope never ended")
    stageScope.entrySet().removeIf(_.getValue == scope)
    (out, Counts(a.jobs.get, a.stages.get, a.tasks.get, a.taskMs.get,
      a.gcMs.get, a.shuffleWrite.get, a.recordsRead.get, a.bytesRead.get,
      unionMs(a.intervals.asScala.toSeq)))
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }
}
