package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval of wall-clock time, in epoch milliseconds. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Spark-side counters by name, recorded from outside the library through
  * the session's listener buses. Every counter only grows; one op's share is
  * the difference of two snapshots taken with the listener bus drained.
  */
final case class Counters(m: Map[String, Long] = Map.empty) {
  def apply(k: String): Long = m.getOrElse(k, 0L)
  def add(kv: (String, Long)*): Counters =
    Counters(kv.foldLeft(m) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) })
  def +(o: Counters): Counters = add(o.m.toSeq: _*)
  def -(o: Counters): Counters = add(o.m.toSeq.map { case (k, v) => k -> -v }: _*)
}

/** Listens on a session and keeps job and stage intervals plus counters in
  * memory. Jobs are attributed to an op by time window: one client runs one
  * op at a time, and the bus is drained at each op boundary, so everything
  * recorded between two drains belongs to the op in between. (Job-group
  * properties would miss the jobs `Reports` submits from its own pool.)
  */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc: SparkContext = spark.sparkContext
  private var c = Counters()
  /** (jobId, startMs, endMs, stageIds); endMs < 0 while running. */
  private val jobs = ArrayBuffer.empty[(Int, Long, Long, Seq[Int])]
  private val stages = ArrayBuffer.empty[(Int, Long, Long)]

  def register(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = org.apache.spark.graft.ListenerDrain.waitUntilEmpty(sc)

  /** Counters so far, plus how many job and stage intervals are recorded. */
  def snapshot(): (Counters, Int, Int) = synchronized((c, jobs.length, stages.length))

  def jobsSince(from: Int): Seq[(Int, Long, Long, Seq[Int])] = synchronized(jobs.drop(from).toSeq)
  def stagesSince(from: Int): Seq[(Int, Long, Long)] = synchronized(stages.drop(from).toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += ((e.jobId, e.time, -1L, e.stageIds))
    c = c.add("jobs" -> 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val i = jobs.lastIndexWhere(_._1 == e.jobId)
    if (i >= 0) jobs(i) = jobs(i).copy(_3 = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    for (sub <- s.submissionTime; done <- s.completionTime) stages += ((s.stageId, sub, done))
    c = c.add("stages" -> 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = c.add("tasks" -> 1, "failedTasks" -> (if (e.taskInfo.successful) 0L else 1L))
    if (m != null) c = c.add(
      "runMs" -> m.executorRunTime, "cpuNs" -> m.executorCpuTime, "gcMs" -> m.jvmGCTime,
      "shuffleWriteBytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffleReadBytes" -> m.shuffleReadMetrics.totalBytesRead,
      "fetchWaitMs" -> m.shuffleReadMetrics.fetchWaitTime,
      "spillBytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "inputBytes" -> m.inputMetrics.bytesRead, "inputRecords" -> m.inputMetrics.recordsRead)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      c = c.add("blocksWritten" -> 1, "blockBytesWritten" -> (b.memSize + b.diskSize))
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    c = c.add("executions" -> 1, "planMs" -> qe.tracker.phases.values.map(_.durationMs).sum)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)
}

/** Union length of intervals clipped to [lo, hi], in milliseconds. */
object Intervals {
  def cover(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
