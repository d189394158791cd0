package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did for one job, attributed to an operation later by time. */
final case class JobWork(startMs: Long, stages: Int, tasks: Int, cpuNs: Long,
                         inputRecords: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)

/** One query's planning time (analysis + optimization + planning phases
  * of its `QueryPlanningTracker`), stamped with when planning began. */
final case class Planning(startMs: Long, ms: Long)

/** Counts Spark's work through a `SparkListener` and a
  * `QueryExecutionListener` registered by the benchmark itself. Events
  * arrive asynchronously; [[settle]] waits until they stop arriving
  * before anything is read. */
final class SparkProbe(spark: SparkSession) {
  private val lock = new Object
  private val jobs = ArrayBuffer.empty[JobWork]
  private val plans = ArrayBuffer.empty[Planning]
  @volatile private var lastEventNs = System.nanoTime()

  // per running job: its start time and stage ids; per completed stage:
  // 1 (the stage), tasks, then the task-metric sums JobWork carries
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, Seq[Int])]
  private val stageSums = scala.collection.mutable.Map.empty[Int, Array[Long]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobStart(e.jobId) = (e.time, e.stageIds)
      lastEventNs = System.nanoTime()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val m = e.stageInfo.taskMetrics
      if (m != null) stageSums(e.stageInfo.stageId) = Array(1L, e.stageInfo.numTasks.toLong,
        m.executorCpuTime, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
      lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach { case (t, stageIds) =>
        // skipped stages never complete and did no work in this job
        val s = stageIds.flatMap(stageSums.remove).foldLeft(new Array[Long](7)) { (a, b) =>
          a.indices.foreach(i => a(i) += b(i)); a
        }
        jobs += JobWork(t, s(0).toInt, s(1).toInt, s(2), s(3), s(4), s(5), s(6))
      }
      lastEventNs = System.nanoTime()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        plans += Planning(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum)
      lastEventNs = System.nanoTime()
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Waits until no event has arrived for `quietMs` (bounded by 10 s). */
  def settle(quietMs: Long = 300): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while ((System.nanoTime() - lastEventNs) / 1000000 < quietMs && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def jobsIn(op: Op): Seq[JobWork] = lock.synchronized {
    jobs.filter(j => j.startMs >= op.startMs && j.startMs <= op.endMs).toSeq
  }

  def planningIn(op: Op): Seq[Planning] = lock.synchronized {
    plans.filter(p => p.startMs >= op.startMs && p.startMs <= op.endMs).toSeq
  }
}
