package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable.ArrayBuffer

/** The benchmark's own Spark listeners: every job, stage and task of the
  * session, and every streaming micro-batch, recorded in memory with
  * wall-clock (epoch ms) times so they can be attributed to spans. */
final class Probe(cores: Int) extends SparkListener {
  import Probe._

  private val jobs = ArrayBuffer.empty[JobRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val batches = ArrayBuffer.empty[BatchRec]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // the job's call site is the name of its result stage
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs += JobRec(e.jobId, prop("spark.jobGroup.id"), site,
      e.time.toDouble, e.time.toDouble, ok = true)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val i = jobs.lastIndexWhere(_.id == e.jobId)
    if (i >= 0) jobs(i) = jobs(i).copy(end = e.time.toDouble,
      ok = e.jobResult == JobSucceeded)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    tasks += TaskRec(
      stage = e.stageId,
      job = stageJob.getOrElse(e.stageId, -1),
      start = i.launchTime.toDouble,
      end = i.finishTime.toDouble,
      runS = m.map(_.executorRunTime / 1e3).getOrElse(0.0),
      cpuS = m.map(_.executorCpuTime / 1e9).getOrElse(0.0),
      gcS = m.map(_.jvmGCTime / 1e3).getOrElse(0.0),
      shuffleWrite = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      shuffleRead = m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      spill = m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      result = m.map(_.resultSize).getOrElse(0L),
      failed = i.failed)
  }

  /** Streaming micro-batch progress, keyed by query name. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val p = e.progress
        batches += BatchRec(Option(p.name).getOrElse(""), p.numInputRows,
          p.batchDuration / 1e3, System.currentTimeMillis().toDouble)
      }
  }

  def jobsIn(from: Double, to: Double): Seq[JobRec] = synchronized {
    jobs.filter(j => j.start >= from && j.start <= to).toSeq
  }

  def batchesIn(from: Double, to: Double): Seq[BatchRec] = synchronized {
    batches.filter(b => b.at >= from && b.at <= to).toSeq
  }

  /** Engine counters over the jobs that started inside [from, to]. */
  def sparkStats(from: Double, to: Double): Map[String, Double] = synchronized {
    val js = jobsIn(from, to)
    val ids = js.map(_.id).toSet
    val ts = tasks.filter(t => ids(t.job)).toSeq
    val wallS = math.max(to - from, 1.0) / 1e3
    val runS = ts.map(_.runS).sum
    val busy = Probe.covered(ts.map(t => (t.start max from, t.end min to)))
    // slowest task over the median task of the worst stage with >1 task
    val skew = ts.groupBy(_.stage).values.filter(_.size > 1).map { st =>
      val d = st.map(t => t.end - t.start).sorted
      d.last / math.max(d(d.size / 2), 1.0)
    }.maxOption.getOrElse(1.0)
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ts.map(_.stage).distinct.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.executor_run_s" -> runS,
      "spark.executor_cpu_s" -> ts.map(_.cpuS).sum,
      "spark.gc_s" -> ts.map(_.gcS).sum,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.result_bytes" -> ts.map(_.result).sum.toDouble,
      "spark.failed_tasks" -> ts.count(_.failed).toDouble,
      "spark.driver_idle_s" -> (wallS - busy / 1e3).max(0.0),
      "spark.cpu_util" -> runS / (wallS * cores),
      "spark.task_skew" -> skew)
  }
}

object Probe {
  final case class JobRec(id: Int, group: String, site: String,
                          start: Double, end: Double, ok: Boolean)
  final case class TaskRec(stage: Int, job: Int, start: Double, end: Double,
                           runS: Double, cpuS: Double, gcS: Double,
                           shuffleWrite: Long, shuffleRead: Long, spill: Long,
                           result: Long, failed: Boolean)
  final case class BatchRec(query: String, rows: Long, durS: Double, at: Double)

  /** Length of the union of intervals (same unit as the input). */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (lo, hi) = (Double.NaN, Double.NaN)
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (hi.isNaN || a > hi) {
        if (!hi.isNaN) total += hi - lo
        lo = a; hi = b
      } else hi = hi max b
    }
    if (!hi.isNaN) total += hi - lo
    total
  }
}
