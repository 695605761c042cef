package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** GC time and peak heap occupancy since [[reset]]. The peak is the heap
  * in use just before each collection (and at [[peakMb]] time), so it is a
  * moment's occupancy, not a sum of per-pool peaks. */
final class JvmMeter {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  @volatile private var peakBytes = 0L
  private var gcMs0 = 0L

  private def gcMs = gcBeans.map(_.getCollectionTime.max(0L)).sum
  private def heapUsed = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  gcBeans.foreach {
    case e: NotificationEmitter => e.addNotificationListener(
      new NotificationListener {
        def handleNotification(n: javax.management.Notification, h: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val before = info.getGcInfo.getMemoryUsageBeforeGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { peakBytes = math.max(peakBytes, before) }
          }
      }, null, null)
    case _ =>
  }

  def reset(): Unit = synchronized { peakBytes = heapUsed; gcMs0 = gcMs }
  def gcSeconds: Double = (gcMs - gcMs0) / 1e3
  def peakMb: Double = {
    val now = heapUsed
    synchronized { peakBytes = math.max(peakBytes, now) }
    peakBytes / 1048576.0
  }
}

/** Stage task metrics summed for one layer. */
final class LayerStats {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  /** Wall time of the layer's jobs, start to end. */
  var jobNanos = 0L
  /** Per stage attempt: task durations in ms. */
  val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  /** Stage-time-weighted skew: the sum over stages of the slowest task
    * over the sum of median tasks; 1.0 when every stage is balanced. */
  def taskSkew: Double = {
    val stages = taskMs.values.filter(_.size >= 2).map(_.sorted)
    val med = stages.map(s => s(s.size / 2)).sum
    if (med == 0L) 1.0 else stages.map(_.last).sum.toDouble / med
  }
}

/** Attributes Spark work to benchmark layers. The benchmark names the
  * layer of every job it causes through the job group; jobs submitted
  * from `graft.io.TableIO` are the checkpoint layer whatever call made
  * them, which separates commits from the supersteps that issue them.
  */
final class LayerListener extends SparkListener {
  val Commit = "io.tableio.commit"
  private val stageLayer = mutable.Map.empty[Int, String]
  private val jobLayer = mutable.Map.empty[Int, (String, Long)]
  private val stats = mutable.Map.empty[String, LayerStats]
  private val Drain = "perfbench.drain"
  private val drainJobs = mutable.Set.empty[Int]
  @volatile private var drained = 0L

  def layer(name: String): LayerStats = synchronized(stats.getOrElseUpdate(name, new LayerStats))

  def reset(): Unit = synchronized(stats.clear())

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    // the result stage carries the job's call site
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    val name = if (site.contains("TableIO.scala")) Some(Commit) else group
    if (group.contains(Drain)) drainJobs += e.jobId
    else name.foreach { l =>
      layer(l).jobs += 1
      jobLayer(e.jobId) = (l, e.time)
      e.stageIds.foreach(stageLayer(_) = l)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobLayer.remove(e.jobId).foreach { case (l, t0) =>
      layer(l).jobNanos += (e.time - t0) * 1000000L
    }
    if (drainJobs.remove(e.jobId)) drained += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageLayer.get(e.stageId).foreach { l =>
      val s = layer(l)
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.bytesWritten += m.outputMetrics.bytesWritten
      }
      s.taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  /** Block until every event posted so far has reached this listener:
    * run a marker job and wait for its end event, which the bus delivers
    * after all earlier events. */
  def drain(sc: SparkContext): Unit = {
    val seen = drained
    sc.setJobGroup(Drain, Drain)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (drained == seen && System.nanoTime() < deadline) Thread.sleep(1)
  }
}
