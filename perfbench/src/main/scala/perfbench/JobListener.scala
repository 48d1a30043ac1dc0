package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Records Spark jobs and task metrics through the public listener API,
  * for the traced run. There is one client and statement intervals never
  * overlap, so a job belongs to the statement whose interval holds its
  * start time; a stage's tasks belong to the first job that lists it. */
final class JobListener extends SparkListener {

  private final class Job(val id: Int, val start: Long, val stages: Seq[Int]) {
    var end: Long = -1L
  }

  private final class Tasks {
    var tasks, failed = 0L
    var runMs, cpuNs, inBytes, inRows, shWrite, shRead, fetchMs, spill,
      outBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Tasks]
  @volatile private var lastEvent = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time, e.stageIds)
    lastEvent = System.currentTimeMillis()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    lastEvent = System.currentTimeMillis()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = stages.getOrElseUpdate(e.stageId, new Tasks)
    t.tasks += 1
    if (e.reason != Success) t.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.inBytes += m.inputMetrics.bytesRead
      t.inRows += m.inputMetrics.recordsRead
      t.shWrite += m.shuffleWriteMetrics.bytesWritten
      t.shRead += m.shuffleReadMetrics.totalBytesRead
      t.fetchMs += m.shuffleReadMetrics.fetchWaitTime
      t.spill += m.diskBytesSpilled
      t.outBytes += m.outputMetrics.bytesWritten
    }
    lastEvent = System.currentTimeMillis()
  }

  /** Waits until every started job has ended and no event arrived for
    * half a second (the listener bus delivers asynchronously). */
  def awaitQuiet(maxMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def quiet = synchronized {
      jobs.values.forall(_.end >= 0) &&
        System.currentTimeMillis() - lastEvent > 500
    }
    while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Per statement id: job, stage and task counters and the union of its
    * jobs' intervals (`exec_wall_s`). */
  def attribute(intervals: Seq[(Int, Long, Long)]): Seq[(Int, ObjectNode)] =
    synchronized {
      val mapper = new ObjectMapper()
      val owner = mutable.HashMap.empty[Int, Int]
      jobs.values.toSeq.sortBy(_.id).foreach { j =>
        j.stages.foreach(s => if (!owner.contains(s)) owner(s) = j.id)
      }
      intervals.map { case (id, t0, t1) =>
        val js = jobs.values.filter(j => j.start >= t0 && j.start <= t1)
          .toSeq.sortBy(_.start)
        val sts = js.flatMap(j => j.stages.filter(s => owner.get(s).contains(j.id)))
          .flatMap(s => stages.get(s))
        var wallMs = 0L
        var reach = Long.MinValue
        js.foreach { j =>
          val end = if (j.end >= 0) j.end else t1
          val from = math.max(j.start, reach)
          if (end > from) wallMs += end - from
          reach = math.max(reach, end)
        }
        val n = mapper.createObjectNode()
        n.put("jobs", js.size)
        n.put("stages", sts.size)
        n.put("tasks", sts.map(_.tasks).sum)
        n.put("failed_tasks", sts.map(_.failed).sum)
        n.put("exec_wall_s", wallMs / 1e3)
        n.put("task_s", sts.map(_.runMs).sum / 1e3)
        n.put("cpu_s", sts.map(_.cpuNs).sum / 1e9)
        n.put("input_bytes", sts.map(_.inBytes).sum)
        n.put("input_rows", sts.map(_.inRows).sum)
        n.put("shuffle_write_bytes", sts.map(_.shWrite).sum)
        n.put("shuffle_read_bytes", sts.map(_.shRead).sum)
        n.put("shuffle_fetch_wait_s", sts.map(_.fetchMs).sum / 1e3)
        n.put("spill_bytes", sts.map(_.spill).sum)
        n.put("output_bytes", sts.map(_.outBytes).sum)
        id -> n
      }
    }
}
