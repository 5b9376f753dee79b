package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Per-task figures of one finished task. */
final case class TaskRec(stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long,
                         peakExec: Long)

/** One job: its group (the layer that ran it) and when it ran. */
final case class JobRec(group: String, startMs: Long, endMs: Long)

/** Everything a Collector saw in one measured window. */
final case class Window(tasks: Seq[TaskRec], stageGroup: Map[Int, String],
                        jobs: Seq[JobRec], peakHeldBytes: Long)

/**
 * Listener that records, for a measured window, every finished task, every
 * job and the peak bytes of RDD blocks (persisted and checkpointed data)
 * created inside the window. Call `reset` before the window and `snapshot`
 * after it; `snapshot` drains the listener bus first, so no event of the
 * window is still in flight.
 */
final class Collector(sc: SparkContext) extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val blocks = new ConcurrentHashMap[RDDBlockId, java.lang.Long]()
  @volatile private var rddFloor = Int.MaxValue
  private var held = 0L
  private var peakHeld = 0L

  sc.addSparkListener(this)

  def reset(): Unit = {
    org.apache.spark.BenchAccess.drainListeners(sc)
    tasks.clear(); jobs.clear(); jobStart.clear()
    blocks.synchronized { blocks.clear(); held = 0L; peakHeld = 0L }
    // RDDs made from here on have ids at or above this one
    rddFloor = sc.emptyRDD[Int].id
  }

  def snapshot(): Window = {
    org.apache.spark.BenchAccess.drainListeners(sc)
    Window(tasks.asScala.toSeq, stageGroup.asScala.toMap, jobs.asScala.toSeq,
      blocks.synchronized(peakHeld))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    jobStart.put(e.jobId, (g, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) => jobs.add(JobRec(g, t0, e.time)) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case id: RDDBlockId if id.rddId >= rddFloor => blocks.synchronized {
        val before = Option(blocks.get(id)).map(_.longValue).getOrElse(0L)
        val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        if (now > 0) blocks.put(id, now) else blocks.remove(id)
        held += now - before
        if (held > peakHeld) peakHeld = held
      }
      case _ =>
    }
  }
}
